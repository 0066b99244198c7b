package perfbench

import java.io.{File, FileInputStream, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Harness, SparkEntry, Tables}

/** JVM side of the benchmark: one closed-loop client over the driver
  * contract `SparkEntry.queries(name)(spark, dir).count()`, with the
  * session recipe and between-query hygiene of `graft.Bench`.
  *
  * Usage: PerfBench <config.properties>. The config names the queries,
  * the input directories the generator wrote and what to run; the
  * results go to `<out>/result.json` (and `<out>/spans.jsonl` when
  * traced). run.py writes the config and reads the results. */
object PerfBench {
  final case class Run(name: String, startUs: Long, buildUs: Long,
      actionUs: Long, releaseUs: Long, endUs: Long, rows: Long,
      error: String)

  def main(args: Array[String]): Unit = {
    val p = new Properties()
    val in = new FileInputStream(args(0))
    try p.load(in) finally in.close()
    def prop(k: String) = Option(p.getProperty(k)).getOrElse(
      sys.error(s"config key $k missing"))
    def list(k: String) = prop(k).split(",").filter(_.nonEmpty).toSeq
    val names = list("queries")
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val out = new File(prop("out"))
    out.mkdirs()
    val sweepCount = prop("sweeps").toInt
    val trace = prop("trace") == "1"
    val tracedOnly = prop("traced_only") == "1"
    val timedDir = prop("timed_dir")

    val jvmStartUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000L
    val mainUs = Clock.us()
    val spark = Harness.session()
    val sessionUs = Clock.us()
    val tracer = new Tracer(spark)
    val result = mutable.LinkedHashMap.empty[String, Any]

    def runOne(name: String, fn: (SparkSession, String) => DataFrame,
        dir: String, beforeRelease: () => Unit = () => ()): Run = {
      val t0 = Clock.us()
      var (t1, t2, rows, err) = (t0, t0, -1L, null: String)
      try {
        val df = fn(spark, dir)
        t1 = Clock.us()
        rows = df.count()
        t2 = Clock.us()
      } catch {
        case e: Throwable =>
          if (t1 == t0) t1 = Clock.us()
          t2 = Clock.us()
          err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
      }
      beforeRelease()
      val t3 = Clock.us()
      Harness.releaseTransient(spark)
      Run(name, t0, t1, t2, t3, Clock.us(), rows, err)
    }

    def pass(dir: String): (Long, Seq[Run]) = {
      val t0 = Clock.us()
      val runs = fns.map { case (n, f) => runOne(n, f, dir) }
      (Clock.us() - t0, runs)
    }

    def errors(runs: Seq[Run]) =
      runs.filter(_.error != null).map(r => r.name -> r.error).toMap

    // Set-up: warm-up passes over already staged inputs, then cold passes
    // that stage every derived layout of freshly generated inputs.
    val warm = list("warm_dirs").map(pass)
    val cold = list("cold_dirs").map(pass)
    val setupEndUs = Clock.us()
    result("setup") = Map(
      "boot_ms" -> (mainUs - jvmStartUs) / 1e3,
      "session_ms" -> (sessionUs - mainUs) / 1e3,
      "cold_pass_ms" -> cold.map(_._1 / 1e3),
      "cold_query_ms" -> cold.headOption.toSeq.flatMap(_._2).map(r =>
        r.name -> (r.endUs - r.startUs) / 1e3).toMap,
      "total_ms" -> (setupEndUs - jvmStartUs) / 1e3,
      "errors" -> (warm ++ cold).flatMap(c => errors(c._2)).toMap)

    if (prop("check") == "1") {
      // Correctness dump, after set-up and before the timed sweeps, so it
      // is outside every timed interval and the sweeps start warm. The
      // twins go to run.py first, which evaluates them while this JVM
      // dumps each query's rows, and says when it is done so DuckDB never
      // runs beside a timed sweep.
      val twins = SparkEntry.oracleSql
      val tmp = new File(out, "twins.json.tmp")
      val tw = new PrintWriter(tmp, "UTF-8")
      try tw.print(Json(names.flatMap(n => twins.get(n).map(n -> _)).toMap))
      finally tw.close()
      tmp.renameTo(new File(out, "twins.json"))
      val checkStart = Clock.us()
      val dump = new File(out, "check")
      val failures = fns.flatMap { case (n, f) =>
        val e =
          try {
            // Collected first so the query runs at full parallelism; the
            // rows, in order and with the query's schema, go to one file.
            val df = f(spark, timedDir)
            spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*),
              df.schema).coalesce(1).write.mode("overwrite")
              .parquet(new File(dump, n).getPath)
            None
          } catch {
            case e: Throwable =>
              Some(n -> s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400))
          }
        Harness.releaseTransient(spark)
        e
      }.toMap
      val dumpMs = (Clock.us() - checkStart) / 1e3
      val done = new File(out, "twins.done")
      val waitEnd = System.currentTimeMillis() + 120000L
      while (!done.exists() && System.currentTimeMillis() < waitEnd)
        Thread.sleep(50)
      result("check") = Map("errors" -> failures, "dump_ms" -> dumpMs,
        "ms" -> (Clock.us() - checkStart) / 1e3)
    }

    // Timed sweeps. A traced run alternates untraced and traced sweeps so
    // the tracing overhead is measured within one process.
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs() = gcBeans.map(_.getCollectionTime).sum
    val sweeps = mutable.ArrayBuffer.empty[Map[String, Any]]
    // The rounds compare traced with untraced sweeps: let JIT settle first.
    if (trace && !tracedOnly) pass(timedDir)
    var sweepNo = 0
    var spanId = 0L
    // A traced run orders its sweeps untraced, traced, traced, untraced,
    // so warm-up drift falls on both kinds alike.
    while (sweepNo < sweepCount) {
      val traced = trace && (tracedOnly || sweepNo % 4 == 1 || sweepNo % 4 == 2)
      if (traced) tracer.attach()
      val (cpu0, gc0, t0) = (ProcStat.cpuTicks(), gcMs(), Clock.us())
      val qs = fns.map { case (n, f) =>
        if (!traced) {
          val r = runOne(n, f, timedDir)
          Map[String, Any]("run" -> r)
        } else {
          val ledger = tracer.open(sweepNo, n)
          var storage = Map.empty[String, Any]
          val r = runOne(n, f, timedDir, () => {
            val infos = spark.sparkContext.getRDDStorageInfo
            storage = Map("rdds" -> infos.length,
              "mem_b" -> infos.map(_.memSize).sum,
              "disk_b" -> infos.map(_.diskSize).sum)
          })
          tracer.close()
          val root = spanId
          spanId += 4
          tracer.harnessSpan("iteration", n, r.startUs, r.endUs, root, -1)
          tracer.harnessSpan("build", n, r.startUs, r.buildUs, root + 1, root)
          tracer.harnessSpan("action", n, r.buildUs, r.actionUs, root + 2,
            root)
          tracer.harnessSpan("release", n, r.releaseUs, r.endUs, root + 3,
            root)
          val buildJobs = ledger.jobStartsMs.count(ms =>
            ms * 1000L >= r.startUs && ms * 1000L < r.buildUs)
          Map[String, Any]("run" -> r, "ledger" -> ledger.counters,
            "build_jobs" -> buildJobs,
            "materialize" -> storage,
            "batches" -> ledger.batches.toSeq.map(b => Map(
              "run" -> b.run, "durations" -> b.durations,
              "input_rows" -> b.inputRows,
              "state_rows" -> b.stateRows, "state_updated" -> b.stateUpdated,
              "state_removed" -> b.stateRemoved, "state_mem_b" -> b.stateMem,
              "state_commit_ms" -> b.stateCommitMs)))
        }
      }
      val wall = Clock.us() - t0
      val cpu = ProcStat.cpuTicks() - cpu0
      val gc = gcMs() - gc0
      if (traced) tracer.detach()
      sweeps += Map("traced" -> traced, "wall_s" -> wall / 1e6,
        "cpu_s" -> cpu / ProcStat.Hz, "gc_ms" -> gc.toDouble,
        "queries" -> qs.map { m =>
          val r = m("run").asInstanceOf[Run]
          (m - "run") ++ Map("name" -> r.name,
            "build_ms" -> (r.buildUs - r.startUs) / 1e3,
            "action_ms" -> (r.actionUs - r.buildUs) / 1e3,
            "iter_ms" -> (r.endUs - r.startUs) / 1e3,
            "rows" -> r.rows, "error" -> r.error)
        })
      sweepNo += 1
    }
    result("sweeps") = sweeps.toSeq
    result("peak_rss_mb") = ProcStat.peakRssMb()
    // What the session still holds once the workload has run: the heap
    // left after a full collection, once the asynchronous unpersists of
    // the last query have landed and the context cleaner has had a pass.
    val storageWait = System.currentTimeMillis() + 5000L
    while (spark.sparkContext.getRDDStorageInfo.nonEmpty &&
        System.currentTimeMillis() < storageWait) Thread.sleep(50)
    System.gc()
    Thread.sleep(500)
    System.gc()
    result("retained_heap_mb") =
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    if (trace && !tracedOnly) {
      // Resolving the workload's tables, measured after the sweeps so the
      // probe warms nothing that was timed. Median of three probes.
      tracer.attach()
      val probes = (0 until 3).map { i =>
        val l = tracer.open(-1, "tables")
        val t0 = Clock.us()
        list("tables").foreach {
          case "events" => Tables.events(spark, timedDir)
          case "documents" => Tables.documents(spark, timedDir)
          case "embeddings" => Tables.embeddings(spark, timedDir)
          case t => Tables.table(spark, timedDir, t)
        }
        val dt = (Clock.us() - t0) / 1e3
        tracer.close()
        (dt, l.counters.getOrElse("scheduler.jobs", 0.0))
      }
      tracer.detach()
      val sorted = probes.sortBy(_._1)
      result("tables") = Map("resolve_ms" -> sorted(1)._1,
        "resolve_jobs" -> sorted(1)._2)
    }
    if (trace) {
      val w = new PrintWriter(new File(out, "spans.jsonl"), "UTF-8")
      try tracer.spans.asScala.foreach { s =>
        w.println(Json(Map("kind" -> s.kind, "name" -> s.name,
          "start_us" -> s.startUs, "end_us" -> s.endUs, "id" -> s.id,
          "parent" -> s.parent, "sweep" -> s.sweep, "query" -> s.query,
          "job" -> s.job)))
      } finally w.close()
    }

    val w = new PrintWriter(new File(out, "result.json"), "UTF-8")
    try w.print(Json(result.toMap)) finally w.close()
    spark.stop()
  }
}

/** /proc readers for this JVM. */
object ProcStat {
  val Hz = 100.0

  /** utime + stime of this process, in clock ticks. */
  def cpuTicks(): Long = {
    val s = read("/proc/self/stat")
    val f = s.substring(s.lastIndexOf(')') + 2).split("\\s+")
    f(11).toLong + f(12).toLong
  }

  /** VmHWM, the peak resident set, in MiB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  private def read(path: String): String = {
    val src = scala.io.Source.fromFile(path)
    try src.mkString finally src.close()
  }
}

/** Minimal JSON encoder for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
