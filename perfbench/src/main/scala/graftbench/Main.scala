package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.sources.Snapshot

/** Benchmark JVM. Sets a graft session up `SetUps` times (session start,
  * `GraftSession.tune`, snapshot registration of every dataset; all but
  * the last session are stopped again) and reports the median, so set-up
  * time is the per-session cost in a running JVM, not the JVM's one-off
  * class loading. Then runs the workload's unrecorded warm-up passes; the
  * last of them samples the live heap after every operation. Then runs the workload as a closed loop with one
  * client until `--seconds` have passed and at least one pass (two
  * traced/untraced pairs with `--trace 1`) and the workload's floor of
  * operations are done. Writes every timing and span to `--out` as JSON,
  * and each operation's first forced result to `--out`.results.jsonl;
  * `run.py` checks and summarizes them.
  *
  * With `--trace 1` passes alternate between traced (job groups, spans,
  * the layer listener) and untraced, so the tracing overhead is measured
  * in-run.
  */
object Main {
  val SetUps = 3

  final case class Call(pass: Int, key: String, layer: String, latency: Double, ok: Boolean,
      error: String, digest: String, traced: Boolean)
  final case class Pass(i: Int, traced: Boolean, wall: Double, cpu: Double)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toSeq
    def one(k: String) = opt.collectFirst { case (`k`, v) => v }.getOrElse(sys.error(s"missing --$k"))
    val cores = Runtime.getRuntime.availableProcessors()
    val seconds = one("seconds").toDouble
    val trace = one("trace") == "1"
    val minPasses = if (trace) 4 else 1
    val dirs = opt.collect { case ("data", v) => v.split("=", 2) match { case Array(k, d) => k -> d } }.toMap
    val script = opt.collectFirst { case ("script", p) => Json.mapper.readTree(new java.io.File(p)) }
    val workload = Workload(one("workload"), script)

    refuseGraftConfs(sys.props.toMap)
    val start = System.nanoTime()
    // seconds since start at the end of each phase, for the artifact
    val phases = mutable.LinkedHashMap.empty[String, Double]
    def phase(name: String): Unit = phases(name) = (System.nanoTime() - start) / 1e9
    val watch = new JvmWatch
    var ctx: Ctx = null
    // the first checked result of each operation goes to disk right away,
    // so the live-heap samples do not count the harness's own copies
    val results = Files.newBufferedWriter(Paths.get(one("out") + ".results.jsonl"), StandardCharsets.UTF_8)
    val resultKeys = mutable.HashSet.empty[String]
    val calls = mutable.ArrayBuffer.empty[Call]
    val passes = mutable.ArrayBuffer.empty[Pass]
    // live heap MB after each operation of the probing warm-up pass
    val heapMb = mutable.LinkedHashMap.empty[String, Double]

    /** Runs pass i; returns (wall seconds of the operations, cpu seconds).
      * With `probeHeap` the live heap is sampled after every operation,
      * outside the timed region.
      */
    def runPass(i: Int, record: Boolean, probeHeap: Boolean = false): (Double, Double) = {
      var wall = 0.0
      var cpu = 0.0
      if (probeHeap) watch.settle()
      for (op <- workload.ops) {
        ctx.tracer.trace += 1 // the spans of one operation share a trace id
        val c0 = watch.cpuSnapshot()
        val t0 = System.nanoTime()
        var value: Any = null
        val error = try {
          ctx.tracer.span(op.layer, op.key, "op") {
            val force = ctx.tracer.span(op.layer, op.key, "build")(op.build(ctx))
            value = ctx.tracer.span(op.layer, op.key, "force")(force())
          }
          null
        } catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}" }
        val latency = (System.nanoTime() - t0) / 1e9
        wall += latency
        cpu += watch.cpuSince(c0)
        // the result is still held here, so it counts in the live heap
        if (probeHeap) heapMb(op.key) = watch.liveMb()
        // canonical form and digest are computed outside the timed region
        val canon = if (error == null) canonical(value) else null
        val digest = if (error == null) md5(Json.write(canon)) else ""
        if (error == null && resultKeys.add(op.key)) {
          results.write(Json.write(Map("key" -> op.key, "layer" -> op.layer, "dataset" -> op.dataset,
            "digest" -> digest, "check" -> op.check.toMap, "value" -> canon)))
          results.newLine()
        }
        if (record) calls += Call(i, op.key, op.layer, latency, error == null, error, digest, ctx.tracer.enabled)
        if (error != null) System.err.println(s"[perfbench] ${op.key} failed: $error")
      }
      (wall, cpu)
    }

    def setUp(): SparkSession = {
      val spark = session(cores)
      GraftSession.tune(spark)
      workload.datasets.foreach(ds => Snapshot(spark, dirs(ds)).registerAll())
      spark
    }
    val setUpS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (k <- 1 to SetUps) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      spark = setUp()
      setUpS += (System.nanoTime() - t0) / 1e9
    }
    phase("setup")
    refuseGraftConfs(spark.conf.getAll)
    val sc = spark.sparkContext
    ctx = new Ctx(spark, dirs, new Tracer(sc))

    // threshold guards: the inputs must sit on the side the workload is for
    val guards = for {
      ds <- workload.datasets
      op <- workload.ops if op.dataset == ds
      g <- op.guards
    } yield {
      val rows = spark.read.parquet(s"${dirs(ds)}/${g.table}.parquet").count()
      val ok = if (g.above) rows > g.value else rows <= g.value
      Map("op" -> op.key, "threshold" -> g.threshold, "value" -> g.value, "table" -> g.table, "rows" -> rows,
        "above" -> g.above, "ok" -> ok)
    }
    require(guards.forall(_("ok") == true), s"threshold guard violated: ${Json.write(guards)}")

    // unrecorded passes, so the measured ones find the JIT warm
    val warmupWalls = (0 until workload.warmups).map { k =>
      runPass(-1, record = false, probeHeap = k == workload.warmups - 1)._1
    }
    phase("warmup")

    val listener = new LayerListener
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (elapsed < seconds || i < minPasses || calls.size < workload.minCalls) {
      // passes pair up; which of the two is traced alternates (TUUT...),
      // so drift within the run does not bias the overhead estimate. The
      // listener is attached only while a traced pass runs.
      val traced = trace && (i + i / 2) % 2 == 0
      ctx.tracer.enabled = traced
      if (traced) sc.addSparkListener(listener)
      val (wall, cpu) = runPass(i, record = true)
      if (traced) {
        org.apache.spark.BenchBus.drain(sc)
        sc.removeSparkListener(listener)
      }
      passes += Pass(i, traced, wall, cpu)
      i += 1
    }
    ctx.tracer.enabled = false
    phase("measured")

    val out = Map(
      "phases_s" -> phases,
      "cores" -> cores,
      "setup_s" -> median(setUpS.toSeq),
      "setup_runs_s" -> setUpS,
      "warmup_walls_s" -> warmupWalls,
      "heap_mb" -> heapMb.values.max,
      "heap_by_op_mb" -> heapMb,
      "guards" -> guards,
      "passes" -> passes.map(p => Map("i" -> p.i, "traced" -> p.traced, "wall_s" -> p.wall, "cpu_s" -> p.cpu)),
      "calls" -> calls.map(c => Map("pass" -> c.pass, "key" -> c.key, "layer" -> c.layer, "latency_s" -> c.latency,
        "ok" -> c.ok, "error" -> c.error, "digest" -> c.digest, "traced" -> c.traced)),
      "spans" -> ctx.tracer.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "trace" -> s.trace,
        "layer" -> s.layer, "op" -> s.op, "kind" -> s.kind, "start" -> s.start, "end" -> s.end)),
      "span_stats" -> listener.synchronized(listener.stats.map { case (id, st) =>
        id.toString -> Map("jobs" -> st.jobs, "failed_jobs" -> st.failedJobs, "tasks" -> st.tasks,
          "failed_tasks" -> st.failedTasks, "task_ms" -> st.taskMs, "max_task_ms" -> st.maxTaskMs,
          "queue_ms" -> st.queueMs, "shuffle_write_b" -> st.shuffleWriteB, "shuffle_read_b" -> st.shuffleReadB,
          "spill_b" -> st.spillB, "gc_ms" -> st.gcMs, "pin_b" -> st.pinB,
          "job_intervals" -> st.jobIntervals.map { case (a, b) => Seq(a, b) })
      }.toMap),
    )
    spark.stop()
    results.close()
    Files.write(Paths.get(one("out")), Json.write(out).getBytes(StandardCharsets.UTF_8))
  }

  /** local[n] with n shuffle partitions and graft's session defaults; no
    * `spark.graft.*` conf is ever set, so every adaptive knob runs at its
    * default.
    */
  private def session(cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()

  private def refuseGraftConfs(confs: Map[String, String]): Unit = {
    val set = confs.keys.filter(_.startsWith("spark.graft.")).toSeq.sorted
    require(set.isEmpty, s"refusing to run with spark.graft.* confs set: ${set.mkString(", ")}")
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The checker's form of a forced value: rows of an unordered result,
    * and the id lists of a map result, are sorted by their serialization.
    */
  private def canonical(v: Any): com.fasterxml.jackson.databind.JsonNode = {
    def sorted(xs: Iterable[Any]) = Json.array(xs.map(Json.canonical).toSeq.sortBy(Json.write))
    v match {
      case Rows(cols, rows, ordered) =>
        Json.canonical(Map("columns" -> cols,
          "rows" -> (if (ordered) Json.array(rows.map(Json.canonical)) else sorted(rows))))
      case m: Map[_, _] => Json.canonical(m.map {
        case (k, xs: Seq[_]) => k -> sorted(xs)
        case kv => kv
      })
      case other => Json.canonical(other)
    }
  }

  private def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString
}
