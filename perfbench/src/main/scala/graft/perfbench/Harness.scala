package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.{Caches, Sessions}

/** One benchmark run of one workload in a fresh `local[cpus]` session:
  * a cold pass over the workload's call list, then warm passes (each after
  * `Caches.clearResultMemos`, at least one) until `seconds` have passed
  * since the cold pass began. Times are normalised by [[Probe]]
  * samples taken before the cold pass and after every pass. Writes
  * `harness.json` and the cold pass's outputs under `runDir` for the
  * launcher to check against the oracle.
  *
  * With `trace = 1`, every call runs under a job group of its own and the
  * per-layer record is built from the [[SpanListener]]. Untraced, no job
  * group is set and the listener only keeps the run totals.
  *
  * Usage: Harness <workload> <inputDir> <runDir> <cpus> <trace 0|1> <seconds>
  */
object Harness {

  private final case class Pass(walls: Array[Double], outs: Array[Either[Throwable, Out]],
      spans: Array[(String, Long, Long)]) {
    def total: Double = walls.sum
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-insensitive digest of a query's rows, for pass-to-pass checks. */
  private def rowsDigest(rows: Array[org.apache.spark.sql.Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }

  private def outDigest(o: Out): String =
    if (o.schema != null) rowsDigest(o.rows) else o.counts.toSeq.sorted.mkString(",")

  private val MB = 1024.0 * 1024.0

  private def peakRssMb(): Double =
    scala.util.Using.resource(scala.io.Source.fromFile("/proc/self/status")) {
      _.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    }

  private def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally s.close()
    }

  /** Session set-up as the benchmark measures it: `Sessions.start` plus one
    * trivial job. Prints `PERFBENCH_READY <epoch millis>` when done, so the
    * launcher can time set-up from process start.
    */
  private def setUp(cpus: String): (SparkSession, Double) = {
    val t0 = System.nanoTime
    val spark = Sessions.start(cpus)
    val startS = (System.nanoTime - t0) / 1e9
    spark.range(0, 1000, 1, cpus.toInt).selectExpr("sum(id)").collect()
    println(s"PERFBENCH_READY ${System.currentTimeMillis}")
    System.out.flush()
    (spark, startS)
  }

  def main(args: Array[String]): Unit = {
    val Array(workload, inDir, runDir, cpus, traceArg, secondsArg) = args
    val trace = traceArg == "1"
    val (spark, startS) = setUp(cpus)
    val sc = spark.sparkContext
    val listener = new SpanListener
    sc.addSparkListener(listener)
    val calls = Workloads.calls(workload).toArray
    def drain(): Unit = org.apache.spark.PerfbenchBridge.drain(sc)

    var indexFills = 0
    def runPass(p: Int): Pass = {
      val ctx = Call.Ctx(spark, inDir, s"$runDir/sinks/p$p")
      val walls = new Array[Double](calls.length)
      val outs = new Array[Either[Throwable, Out]](calls.length)
      val spans = new Array[(String, Long, Long)](calls.length)
      calls.zipWithIndex.foreach { case (call, i) =>
        val keysBefore =
          if (p == 0 && call.kind != IndexBuild) Caches.indexKeys(spark, inDir) else null
        val group = s"p$p.$i.${call.span}"
        if (trace) sc.setJobGroup(group, call.span)
        val m0 = System.currentTimeMillis
        val t0 = System.nanoTime
        outs(i) = try Right(call.run(ctx)) catch { case NonFatal(e) => Left(e) }
        walls(i) = (System.nanoTime - t0) / 1e9
        spans(i) = (group, m0, System.currentTimeMillis)
        if (trace) sc.clearJobGroup()
        if (keysBefore != null)
          indexFills += (Caches.indexKeys(spark, inDir) -- keysBefore).size
      }
      Pass(walls, outs, spans)
    }

    val seconds = secondsArg.toDouble
    def unattributedTasks = listener.bySpan.get(SpanListener.Unattributed).map(_.tasks).getOrElse(0L)

    // The cold pass: the call list in the fresh JVM, paying class loading,
    // JIT, codegen and every cache fill. Its outputs are the ones checked
    // against the oracle. The probe's own code is compiled before it.
    val probe = new Probe(cpus.toInt)
    probe.sample()
    val probes = mutable.ArrayBuffer(probe.sample())
    drain()
    val before = listener.total.copy()
    val unattributedBefore = unattributedTasks
    val measureStart = System.nanoTime
    val cold = runPass(0)
    drain()
    val coldTotals = listener.total.minus(before)
    val coldUnattributed = unattributedTasks - unattributedBefore
    val indexKeys = Caches.indexKeys(spark, inDir).size

    // Warm passes, each after Caches.clearResultMemos, until `seconds` have
    // passed since the cold pass began; at least one. A probe sample
    // follows every pass.
    probes += probe.sample()
    val warm = mutable.ArrayBuffer.empty[Pass]
    while (warm.isEmpty || (warm.size < 40 && (System.nanoTime - measureStart) / 1e9 < seconds)) {
      Caches.clearResultMemos(spark)
      warm += runPass(warm.size + 1)
      deleteTree(Paths.get(s"$runDir/sinks/p${warm.size}"))
      probes += probe.sample()
    }
    val warmPasses = warm.toSeq
    drain()
    val storage = sc.getRDDStorageInfo
    val residentMb = storage.map(_.memSize).sum / MB
    val diskMb = storage.map(_.diskSize).sum / MB

    // failures: calls that threw, and warm outputs that differ from cold
    val errors = mutable.ArrayBuffer.empty[String]
    var attempted = 0
    val coldDigests = cold.outs.map(_.toOption.map(outDigest))
    (cold +: warmPasses).zipWithIndex.foreach { case (pass, p) =>
      pass.outs.zipWithIndex.foreach { case (o, i) =>
        attempted += 1
        o match {
          case Left(e) => errors += s"p$p ${calls(i).span}: ${e.toString.take(300)}"
          case Right(out) if p > 0 && !coldDigests(i).contains(outDigest(out)) =>
            errors += s"p$p ${calls(i).span}: output differs from the cold pass"
          case _ =>
        }
      }
    }

    // the cold pass's query outputs, written for the launcher's oracle check
    val checks = calls.indices.map { i =>
      val c = calls(i)
      val path = c.kind match {
        case Query if c.oracle.isDefined => cold.outs(i).toOption.map { o =>
          val p = s"$runDir/results/${c.oracle.get}"
          spark.createDataFrame(java.util.Arrays.asList(o.rows: _*), o.schema)
            .coalesce(1).write.mode("overwrite").parquet(p)
          p
        }
        case Sink => Some(s"$runDir/sinks/p0")
        case _ => None
      }
      val rows = cold.outs(i).toOption.map(o =>
        if (o.schema != null) o.rows.length.toLong else o.counts.values.sum)
      Json.obj("span" -> Json.str(c.span), "kind" -> Json.str(c.kind.toString),
        "oracle" -> c.oracle.map(Json.str).getOrElse("null"),
        "path" -> path.map(Json.str).getOrElse("null"),
        "rows" -> rows.map(_.toString).getOrElse("null"))
    }
    val oracleSql = calls.toSeq.flatMap(_.oracle).flatMap(_.split(",")).map(_.split("=").last)
      .distinct.sorted.map(q => q -> Json.str(graft.SparkEntry.oracleSql(q)))

    // every figure against the mean probe CPU time of the run
    val probeCpu = probes.sum / probes.size
    val warmS = median(warmPasses.map(_.total))
    val coldNorm = Probe.normalise(cold.total, probeCpu)
    val warmNorm = Probe.normalise(warmS, probeCpu)
    val e2e = Seq(
      "cold_norm_s" -> coldNorm,
      "warm_norm_s" -> warmNorm,
      "task_cpu_norm_s" -> Probe.normalise(coldTotals.cpuNs / 1e9, probeCpu),
      "shuffle_mb" -> coldTotals.shuffleWrite / MB,
      "cache_mb" -> (residentMb + diskMb))

    val layers = if (!trace) Seq.empty else {
      val layer = Workloads.modules.flatMap { m =>
        val idx = calls.indices.filter(i => calls(i).module == m)
        val acc = new Acc
        var driverMs = 0L
        idx.foreach { i =>
          val (g, a, b) = cold.spans(i)
          val s = listener.bySpan.getOrElse(g, new Acc)
          acc.add(s)
          driverMs += s.idleMillis(a, b)
        }
        val rowsOut = idx.flatMap(i => cold.outs(i).toOption).map(o =>
          if (o.schema != null) o.rows.length.toLong else o.counts.values.sum).sum
        Seq(
          s"$m.wall_s" -> idx.map(cold.walls(_)).sum,
          s"$m.index_wall_s" -> idx.filter(calls(_).kind == IndexBuild).map(cold.walls(_)).sum,
          s"$m.warm_wall_s" -> median(warmPasses.map(p => idx.map(p.walls(_)).sum)),
          s"$m.driver_s" -> driverMs / 1000.0,
          s"$m.cpu_s" -> acc.cpuNs / 1e9,
          s"$m.gc_s" -> acc.gcMs / 1000.0,
          s"$m.sched_delay_s" -> acc.schedMs / 1000.0,
          s"$m.jobs" -> acc.jobs.toDouble,
          s"$m.tasks" -> acc.tasks.toDouble,
          s"$m.shuffle_write_mb" -> acc.shuffleWrite / MB,
          s"$m.spill_mb" -> acc.spill / MB,
          s"$m.peak_exec_mem_mb" -> acc.peakExecMem / MB,
          s"$m.rows_in" -> acc.rowsIn.toDouble,
          s"$m.rows_out" -> rowsOut.toDouble)
      }
      val pipelineOut = calls.indices.filter(i => calls(i).module == "Pipeline")
        .map(i => listener.bySpan.get(cold.spans(i)._1).map(_.bytesOut).getOrElse(0L)).sum
      layer ++ Seq(
        "Sessions.start_s" -> startS,
        // the wall times and the probe the normalised end-to-end ones come from
        "raw.cold_s" -> cold.total,
        "raw.warm_s" -> warmS,
        "probe.cpu_s" -> probeCpu,
        "JVM.peak_rss_mb" -> peakRssMb(),
        "Caches.index_keys" -> indexKeys.toDouble,
        "Caches.index_fills_in_calls" -> indexFills.toDouble,
        "Caches.resident_mb" -> residentMb,
        "Caches.disk_mb" -> diskMb,
        "Pipeline.written_mb" -> pipelineOut / MB,
        "Tables.bytes_read" -> coldTotals.bytesIn.toDouble,
        // the traced run's own end-to-end times: minus an untraced run's,
        // they give the tracing overhead
        "trace.cold_norm_s" -> coldNorm,
        "trace.warm_norm_s" -> warmNorm,
        "trace.cold_tasks_unattributed" -> coldUnattributed.toDouble)
    }

    // listener attribution must account for every task the run executed
    val sum = listener.spanSum
    val t = listener.total
    val attributionOk = sum.tasks == t.tasks && sum.cpuNs == t.cpuNs &&
      sum.shuffleWrite == t.shuffleWrite && sum.bytesIn == t.bytesIn
    if (!attributionOk) errors += "listener attribution does not sum to the run totals"

    def nums(kv: Seq[(String, Double)]) = Json.obj(kv.map { case (k, v) => k -> Json.num(v) }: _*)
    val json = Json.obj(
      "workload" -> Json.str(workload),
      "cpus" -> cpus,
      "trace" -> trace.toString,
      "probe_cpu_s" -> probes.map(Json.num).mkString("[", ",", "]"),
      "cold_calls_s" -> Json.obj(calls.indices.map(i =>
        calls(i).span -> Json.num(cold.walls(i))): _*),
      "warm_calls_s" -> Json.obj(calls.indices.map(i =>
        calls(i).span -> Json.num(median(warmPasses.map(_.walls(i))))): _*),
      "cold_s" -> Json.num(cold.total),
      "warm_pass_s" -> warmPasses.map(p => Json.num(p.total)).mkString("[", ",", "]"),
      "end_to_end" -> nums(e2e),
      "per_layer" -> nums(layers),
      "attempted" -> attempted.toString,
      "errors" -> errors.map(Json.str).mkString("[", ",", "]"),
      "checks" -> checks.mkString("[", ",", "]"),
      "oracle_sql" -> Json.obj(oracleSql: _*))
    Files.write(Paths.get(s"$runDir/harness.json"), json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

/** Minimal JSON rendering for the harness report. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
