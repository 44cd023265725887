package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and prints its metrics. The last
  * line of standard output is one JSON object:
  * `{"correct", "attempted", "failed", "metrics"}`.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --data <sf0.01 dir> --out <record.json> [--commit <id>]`
  *
  * `--trace 0` reports the end-to-end metrics of untraced calls. `--trace 1`
  * alternates untraced and traced passes and reports the per-layer metrics
  * of the traced calls, plus the tracing overhead between the two.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
      data: String, out: String, commit: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("data"), need("out"), kv.getOrElse("commit", "unknown"))
  }

  val MinCalls = 3

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val status = run(o)
    System.out.flush()
    sys.exit(status)
  }

  /** Per-call record of a traced call. */
  final case class Traced(index: Int, seconds: Double, rows: Long, spans: Seq[Span],
      jobs: Seq[JobStat], planMs: Long, scanRows: Long, probeSpans: Seq[Span])

  def run(o: Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val load0 = Conditions.loadavg()
    val steal0 = Conditions.stealSeconds()
    val w = Workloads(o.workload, o.seed, o.data)
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = graft.GraftSession.builder(cores.toString, s"perfbench-${o.workload}").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val jobLog = new JobLog
    val planLog = new PlanLog
    if (o.trace) {
      sc.addSparkListener(jobLog)
      spark.listenerManager.register(planLog)
    }
    val plain = new Tracer(sc, enabled = false)
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    def judge(label: String, out: => Outcome): Option[Outcome] = {
      attempted += 1
      try {
        val oc = out
        Some(oc)
      } catch {
        case e: Exception =>
          failed += 1
          failures += s"$label: ${e.getClass.getSimpleName}: ${e.getMessage}"
          None
      }
    }
    def verify(label: String, oc: Outcome): Unit =
      (try oc.check() catch { case e: Exception => Some(s"check threw $e") }).foreach { msg =>
        failed += 1
        failures += s"$label: $msg"
      }

    // --- set-up: process start until the first timed call, once per run (a
    // second set-up in the same JVM would find classes loaded, code compiled
    // and the registry's first-call caches built, and time none of that)
    w.prepare(spark)
    val warm = w.warmUp(plain).zipWithIndex.flatMap { case (oc, k) =>
      judge(s"warm-up $k", oc).map(k -> _)
    }
    val setupSeconds = (System.currentTimeMillis() - jvmStartMs) / 1e3
    warm.foreach { case (k, oc) => w.after(); verify(s"warm-up $k", oc) }
    val rddBase = w.inputRdds
    Conditions.resetHeapPeaks()

    // --- timed calls, closed loop
    val callTimes = mutable.ArrayBuffer.empty[(Int, Double, Long)]
    val traced = mutable.ArrayBuffer.empty[Traced]
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    var i = 0
    // whole passes only; a traced run alternates untraced and traced passes.
    // An untraced run makes at least MinCalls calls, so that every run's
    // median is the middle of as many calls, also when calls are long.
    val minCalls = if (o.trace) 1 else MinCalls
    while (System.nanoTime() < deadline || callTimes.size < minCalls ||
        (o.trace && traced.isEmpty) || i % w.passLength != 0) {
      val tracedCall = o.trace && (i / w.passLength) % 2 == 1
      val tr = new Tracer(sc, enabled = tracedCall)
      if (tracedCall) { org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc); planLog.drain() }
      val t0 = System.nanoTime()
      val oc = judge(s"call $i", w.call(i, tr))
      val dt = (System.nanoTime() - t0) / 1e9
      oc.foreach { c =>
        if (!o.trace || !tracedCall) callTimes += ((i, dt, c.rows))
        if (tracedCall) {
          org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
          val jobs = jobLog.take(s"call-$i")
          val (planMs, scanRows) = planLog.drain()
          val probe = new Tracer(sc, enabled = true)
          // the scalable rank path runs jobs of its own while the plan is
          // built; the window path runs none
          w.layerProbes(i, probe, scalableRank = jobs.exists(_.layer == Layers.Rank))
          org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
          jobLog.take(s"probe-$i")
          planLog.drain()
          traced += Traced(i, dt, c.rows, tr.spans.toList, jobs, planMs, scanRows,
            probe.spans.toList)
        }
        w.after()
        verify(s"call $i", c)
      }
      i += 1
    }
    val heapPeakMb = Conditions.heapPeakBytes() / 1048576.0
    // listener events, unpersists and block removals land asynchronously;
    // let them finish before reading what the calls left behind
    org.apache.spark.graft.ListenerBridge.waitUntilEmpty(sc)
    Thread.sleep(1000)
    val leakBytes = Conditions.blockBytes(sc, rddBase)
    val leakDirs = Conditions.graftTempDirs()
    val heapLiveMb = Conditions.heapLiveBytes() / 1048576.0
    val load1 = Conditions.loadavg()
    val steal = Conditions.stealSeconds() - steal0

    // --- metrics
    val times = callTimes.map(_._2).toSeq
    val rows = callTimes.map(_._3).sum
    val passTimes = callTimes.grouped(w.passLength).filter(_.size == w.passLength)
      .map(_.map(_._2).sum).toSeq
    val endToEnd = Seq(
      ("call_s.p50", Stats.median(times), "s"),
      ("rows_per_s", rows / times.sum, "rows/s"),
      ("pass_s", if (passTimes.isEmpty) times.sum else Stats.median(passTimes), "s"),
      ("setup_s", setupSeconds, "s"))
    // not gated: zero at a correct commit, too few calls for a tail, and
    // a live heap that differs by tens of MB between identical runs
    val ungated = Seq(
      ("fail_ratio", failed.toDouble / math.max(attempted, 1), "ratio"),
      ("call_s.p90", Stats.quantile(times, 0.9), "s"),
      ("heap_live_mb", heapLiveMb, "MB"))
    val perLayer =
      if (!o.trace) Nil
      else LayerMetrics(w, traced.toSeq, times, leakBytes, leakDirs, heapPeakMb, heapLiveMb)

    val conditions = Seq(
      "workload" -> Json.str(w.name),
      "inputs" -> Json.str(w.inputs),
      "seed" -> o.seed.toString,
      "seconds" -> o.seconds.toString,
      "trace" -> (if (o.trace) "1" else "0"),
      "commit" -> Json.str(o.commit),
      "nproc" -> cores.toString,
      "loadavg_1m_before" -> Json.num(load0),
      "loadavg_1m_after" -> Json.num(load1),
      "cpu_steal_s" -> Json.num(steal),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "spark_version" -> Json.str(spark.version),
      "java_version" -> Json.str(System.getProperty("java.version")),
      "master" -> Json.str(sc.master),
      "calls" -> times.size.toString,
      "p90_samples_beyond" -> math.floor(times.size * 0.1).toInt.toString)

    println(s"# ${w.name} seed=${o.seed} trace=${if (o.trace) 1 else 0} calls=${times.size} " +
      s"(p90 from ${times.size} samples) nproc=$cores loadavg ${load0} -> ${load1} " +
      f"steal=$steal%.1fs " +
      s"spark=${spark.version} commit=${o.commit}")
    (endToEnd ++ ungated).foreach { case (n, v, u) => println(f"${w.name}%-20s $n%-28s $v%.6f $u") }
    perLayer.foreach { case (n, v, u) => println(f"${w.name}%-20s $n%-28s $v%.6f $u") }
    failures.take(5).foreach(f => println(s"# FAILED $f"))

    writeRecord(o, conditions, endToEnd ++ ungated, perLayer, setupSeconds, callTimes.toSeq,
      traced.toSeq, failures.toSeq)

    w.release()
    spark.stop()
    val reported = if (o.trace) perLayer else endToEnd
    val metrics = reported.map { case (n, v, u) =>
      Json.str(n) -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
    }
    println(Json.obj(Seq(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics, quoted = true))))
    0
  }

  private def writeRecord(o: Opts, conditions: Seq[(String, String)],
      endToEnd: Seq[(String, Double, String)], perLayer: Seq[(String, Double, String)],
      setup: Double, calls: Seq[(Int, Double, Long)], traced: Seq[Traced],
      failures: Seq[String]): Unit = {
    def metricList(ms: Seq[(String, Double, String)]) = Json.arr(ms.map { case (n, v, u) =>
      Json.obj(Seq("name" -> Json.str(n), "value" -> Json.num(v), "unit" -> Json.str(u)))
    })
    def spanJson(s: Span) = Json.obj(Seq("name" -> Json.str(s.name), "start_us" -> s.start.toString,
      "end_us" -> s.end.toString, "parent" -> Json.str(s.parent), "call" -> Json.str(s.call)))
    val tracedJson = traced.map { t =>
      val byLayer = t.jobs.groupBy(_.layer).view.mapValues(_.size).toMap
      Json.obj(Seq(
        "call" -> t.index.toString,
        "seconds" -> Json.num(t.seconds),
        "plan_ms" -> t.planMs.toString,
        "scan_rows" -> t.scanRows.toString,
        "jobs" -> t.jobs.size.toString,
        "jobs_by_layer" -> Json.obj(Layers.all.map(l => Json.str(l) ->
          byLayer.getOrElse(l, 0).toString), quoted = true),
        "spans" -> Json.arr((t.spans ++ t.probeSpans).map(spanJson)),
        "job_detail" -> Json.arr(t.jobs.map { j =>
          Json.obj(Seq("id" -> j.id.toString, "layer" -> Json.str(j.layer),
            "span" -> Json.str(j.span), "site" -> Json.str(j.site),
            "start_ms" -> j.start.toString, "end_ms" -> j.end.toString,
            "stages" -> j.stages.toString, "tasks" -> j.tasks.toString,
            "task_ms" -> j.runMs.toString, "sched_delay_ms" -> j.schedMs.toString,
            "gc_ms" -> j.gcMs.toString, "shuffle_bytes" -> j.shuffleBytes.toString,
            "spill_bytes" -> j.spillBytes.toString, "failed_tasks" -> j.failedTasks.toString))
        })))
    }
    val doc = Json.obj(Seq(
      "conditions" -> Json.obj(conditions),
      "end_to_end" -> metricList(endToEnd),
      "per_layer" -> metricList(perLayer),
      "setup_s" -> Json.num(setup),
      "calls" -> Json.arr(calls.map { case (i, s, r) =>
        Json.obj(Seq("call" -> i.toString, "seconds" -> Json.num(s), "rows" -> r.toString)) }),
      "traced_calls" -> Json.arr(tracedJson),
      "failures" -> Json.arr(failures.map(Json.str))))
    val path = Paths.get(o.out)
    Option(path.getParent).foreach(Files.createDirectories(_))
    Files.write(path, (doc + "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Medians and quantiles as Python's `statistics` computes them. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks ("inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = (s.size - 1) * q
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** The run's conditions and leak counters, read from outside the engine. */
object Conditions {
  /** Seconds this machine's virtual CPUs were ready to run while the
    * hypervisor ran something else (the `steal` column of /proc/stat,
    * summed over CPUs): contention from outside the machine. */
  def stealSeconds(): Double =
    try {
      val cpu = new String(Files.readAllBytes(Paths.get("/proc/stat")), StandardCharsets.UTF_8)
        .linesIterator.next().trim.split("\\s+")
      cpu(8).toDouble / 100.0
    } catch { case _: Exception => Double.NaN }

  def loadavg(): Double =
    try new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .split("\\s+")(0).toDouble
    catch { case _: Exception => Double.NaN }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  def resetHeapPeaks(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak usage since the last reset, garbage
    * included, so it depends on when the collector happened to run. */
  def heapPeakBytes(): Double = heapPools.map(_.getPeakUsage.getUsed.toDouble).sum

  /** Heap still in use after a full collection. The first collection
    * queues the weak references Spark's cleaner watches; the second frees
    * what the cleaner released. */
  def heapLiveBytes(): Double = {
    System.gc()
    Thread.sleep(500)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed.toDouble
  }

  /** Bytes the block manager still holds in memory or on disk, other than
    * the workload's own inputs. */
  def blockBytes(sc: org.apache.spark.SparkContext, inputs: Set[Int]): Double =
    sc.getRDDStorageInfo.filterNot(r => inputs.contains(r.id))
      .map(r => (r.memSize + r.diskSize).toDouble).sum

  /** Directories named `graft-*` in `java.io.tmpdir`. */
  def graftTempDirs(): Double = {
    val dir = Paths.get(System.getProperty("java.io.tmpdir"))
    val s = Files.list(dir)
    try s.iterator().asScala.count(p => Files.isDirectory(p) &&
      p.getFileName.toString.startsWith("graft-")).toDouble
    finally s.close()
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  /** An object; keys are quoted here unless `quoted` says they already are. */
  def obj(kv: Seq[(String, String)], quoted: Boolean = false): String =
    kv.map { case (k, v) => (if (quoted) k else str(k)) + ": " + v }.mkString("{", ", ", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
