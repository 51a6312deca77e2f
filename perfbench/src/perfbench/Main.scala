package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicBoolean

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.SparkSession

import graft.api.{EventLogGenerator, ResultCache}
import graft.xes.XesWriter

/** Entry point of the benchmark JVM. `run.py` builds the classes, makes the
  * data and calls
  *
  *   --mode datagen --data DIR
  *   --mode run --workload W --seed N --seconds S --trace 0|1 --data DIR
  *              --work DIR --nproc P --pins FILE --out FILE
  *   --mode race --seed N --data DIR --work DIR --nproc P --out FILE
  *   --mode selftest
  *
  * A run writes one JSON object to `--out`: the end-to-end metrics
  * (trace 0) or the per-layer metrics (trace 1), the attempted and failed
  * counts, and run information (seed, nproc, heap, sample counts).
  */
object Main {
  val Workloads = Seq("serve_miss", "query_mix")
  /** Set-ups per run; the median is reported as setup_s. */
  val Setups = 3
  /** Length of serve_miss's untimed load after the first set-up, which
    * lets the JIT compile the serving path before anything is timed.
    */
  val JitWarmSeconds = 25.0
  /** Requests per route in the traced run's direct-call probe. */
  val ProbePerRoute = 2
  /** Rounds of the race mode; each sends one export from every client at once. */
  val RaceRounds = 10

  type Metrics = mutable.LinkedHashMap[String, (Double, String)]

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    o.getOrElse("mode", "run") match {
      case "datagen" =>
        val spark = session(1, Paths.get(o("work")))
        try DataGen.write(spark, Paths.get(o("data"))) finally spark.stop()
      case "selftest" => SelfTest.run()
      case "race" => Files.write(Paths.get(o("out")), Stats.json(race(o)).getBytes(UTF_8))
      case "run" =>
        val out = Paths.get(o("out"))
        Files.write(out, Stats.json(run(o)).getBytes(UTF_8))
      case m => sys.error(s"unknown mode $m")
    }
  }

  def session(nproc: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** A workload's state between set-up and teardown. */
  private trait Setup { def spark: SparkSession; def stop(): Unit }

  private final class ServeSetup(val ctx: Serve.Ctx) extends Setup {
    def spark: SparkSession = ctx.spark
    def stop(): Unit = { ctx.stop(); ctx.spark.stop() }
  }

  private final class MixSetup(val spark: SparkSession) extends Setup {
    def stop(): Unit = spark.stop()
  }

  def run(o: Map[String, String]): Map[String, Any] = {
    val workload = o("workload")
    require(Workloads.contains(workload), s"unknown workload $workload; one of ${Workloads.mkString(", ")}")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val sfDir = o("data")
    val work = Paths.get(o("work"))
    val nproc = o("nproc").toInt
    val tracing = new AtomicBoolean(false)
    val failures = mutable.ArrayBuffer[String]()
    val info = mutable.LinkedHashMap[String, Any]()

    var attempted = 0L
    var failed = 0L
    def count(what: String, samples: Seq[Serve.Sample]): Unit = {
      attempted += samples.size
      failed += samples.count(_.error.isDefined)
      failures ++= samples.flatMap(x => x.error.map(e => s"$what ${x.route}: $e"))
    }

    // ---- set-up, several times; the last one is kept ---------------------
    val setupTimes = mutable.ArrayBuffer[Double]()
    var setup: Setup = null
    for (i <- 1 to Setups) {
      if (setup != null) setup.stop()
      val t0 = System.nanoTime()
      val spark = session(nproc, work)
      setup = workload match {
        case "query_mix" => warmUp(spark); new MixSetup(spark)
        case _ =>
          val ctx = Serve.start(spark, sfDir, fresh(work.resolve(s"cache-$i")), nproc,
            () => tracing.get())
          count("warm-up", warmMiss(ctx, nproc, seed))
          new ServeSetup(ctx)
      }
      setupTimes += (System.nanoTime() - t0) / 1e9
      setup match {
        case s: ServeSetup if i == 1 =>
          // untimed: the JIT compiles the serving path here, not in the timed load
          val (warm, warmWall) = Serve.load(s.ctx, nproc, JitWarmSeconds, seed ^ 0x3a17L)
          count("JIT warm-up", warm)
          info("jit_warm_requests") = warm.size
          info("jit_warm_s") = warmWall
        case _ =>
      }
    }
    val spark = setup.spark

    val e2e = new Metrics
    val layer = new Metrics
    e2e("setup_s") = (Stats.median(setupTimes.toSeq), "s")
    var recorder: Recorder = null

    setup match {
      case s: ServeSetup if !traced =>
        val (samples, wall) = Serve.load(s.ctx, nproc, seconds, seed)
        e2e("retained_mb") = (retainedMb(), "MB")
        info("routes") = samples.groupBy(_.route).map { case (r, xs) => r -> xs.size }
        // median latency per fifth of the phase, by start time: shows warm-up drift
        val t0 = samples.map(_.startNs).min
        info("p50_ms_by_fifth") = samples.groupBy(x => ((x.startNs - t0) / (seconds * 2e8)).toInt.min(4))
          .toSeq.sortBy(_._1).map { case (_, xs) => Stats.median(xs.map(_.ms)) }
        info("samples_beyond_p95") = samples.size / 20
        count("timed", samples)
        serveE2e(e2e, samples, wall)
      case s: ServeSetup =>
        // untraced quarters around a traced half (A B B A), so that the
        // speed-up of a JVM that is still compiling cancels out of the
        // tracing overhead
        val (a1, w1) = Serve.load(s.ctx, nproc, seconds / 4, seed)
        recorder = Recorder.install(spark)
        recorder.drain(spark)
        tracing.set(true)
        val (b, wb) = tracedLoad(layer, s.ctx, recorder, nproc, seconds / 2, seed)
        tracing.set(false)
        Recorder.uninstall(spark)
        val (a2, w2) = Serve.load(s.ctx, nproc, seconds / 4, seed)
        layer("trace.overhead_pct") = (overheadPct(wb / b.size, (w1 + w2) / (a1.size + a2.size)), "%")
        count("untraced", a1 ++ a2)
        count("traced", b ++ probe(layer, s.ctx, recorder, seed, work))
      case _: MixSetup =>
        val pins = QueryMix.readPins(Paths.get(o("pins")))
        // one pass is the unit of work, whatever --seconds says
        def onePass(group: Option[(String, String) => String]): (Seq[QueryMix.Run], Double) = {
          val t0 = System.nanoTime()
          val runs = QueryMix.pass(spark, sfDir, QueryMix.Queries, group)
          (runs, (System.nanoTime() - t0) / 1e9)
        }
        def check(runs: Seq[QueryMix.Run]): Seq[String] = runs.flatMap { r =>
          pins.get(r.name) match {
            case None => Some(s"${r.name}: no pin (rows ${r.pin.rows}, hash ${r.pin.hash})")
            case Some(p) if p != r.pin =>
              Some(s"${r.name}: rows ${r.pin.rows} hash ${r.pin.hash}, pinned ${p.rows} ${p.hash}")
            case _ => None
          }
        }
        val (runs, wall) = onePass(None)
        e2e("retained_mb") = (retainedMb(), "MB")
        val bad = check(runs)
        attempted = runs.size
        failed = bad.size
        failures ++= bad
        o.get("write-pins").foreach(f => QueryMix.writePins(Paths.get(f), runs))
        info("query_walls_s") = runs.map(r => s"${r.name} ${r.constructNs / 1e9} ${r.wallNs / 1e9}")
        val walls = runs.map(r => r.wallNs / 1e6)
        e2e("latency_p50_ms") = (Stats.median(walls), "ms")
        e2e("latency_p95_ms") = (Stats.quantile(walls, 0.95), "ms")
        e2e("throughput_rps") = (runs.size / wall, "1/s")
        if (traced) {
          // the first pass ran in a cold JVM and warmed it; the traced pass
          // is compared with an untraced pass after it, which has had longer
          // to compile, so the overhead reads high rather than low. A third
          // warm pass would balance that but does not fit in a run's 180 s.
          recorder = Recorder.install(spark)
          recorder.drain(spark)
          val plan0 = recorder.planMs.sum
          val (truns, twall) = onePass(Some((n, phase) => s"q:$n:$phase"))
          recorder.drain(spark)
          Recorder.uninstall(spark)
          val (a2, w2) = onePass(None)
          val tbad = check(truns ++ a2)
          attempted += truns.size + a2.size
          failed += tbad.size
          failures ++= tbad
          mixLayers(layer, truns, twall, recorder, nproc, recorder.planMs.sum - plan0)
          layer("trace.overhead_pct") = (overheadPct(twall, w2), "%")
          truns.foreach { r =>
            recorder.record(s"q:${r.name}", "query.construct", r.startNs, r.startNs + r.constructNs)
            recorder.record(s"q:${r.name}", "query.exec", r.startNs + r.constructNs, r.startNs + r.wallNs)
          }
        }
    }
    info("peak_rss_mb") = peakRssMb()

    if (traced) writeTrace(work.resolve("traces").resolve(s"$workload-seed$seed.jsonl"), recorder)
    setup.stop()

    val metrics = if (traced) inCatalogOrder(layer, Catalog.perLayer) else inCatalogOrder(e2e, Catalog.endToEnd)
    Map(
      "correct" -> (failed == 0 && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "info" -> (Map[String, Any](
        "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "nproc" -> nproc, "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark" -> spark.version, "setup_s" -> setupTimes.toSeq,
        "end_to_end" -> e2e.map { case (k, (v, _)) => k -> v }) ++ info),
      "failures" -> failures.take(20).toSeq)
  }

  // ---- serving ------------------------------------------------------------

  private def serveE2e(e2e: Metrics, samples: Seq[Serve.Sample], wall: Double): Unit = {
    val ms = samples.map(_.ms)
    e2e("latency_p50_ms") = (Stats.median(ms), "ms")
    e2e("latency_p95_ms") = (Stats.quantile(ms, 0.95), "ms")
    e2e("throughput_rps") = (samples.size / wall, "1/s")
  }

  /** Set-up's warm-up: one request per client, each from a seed of its
    * own, so that each new session's first timed requests do not pay
    * code generation.
    */
  private def warmMiss(ctx: Serve.Ctx, nproc: Int, seed: Long): Seq[Serve.Sample] =
    together(nproc) { i =>
      Serve.send(ctx, Serve.client(), Serve.misses(ctx, new Random(seed ^ 0x5eed0000L + i), i, nproc).next())
    }

  /** Runs `f(0)` to `f(n - 1)` on threads of their own, all at once. */
  private def together(n: Int)(f: Int => Serve.Sample): Seq[Serve.Sample] = {
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Serve.Sample]()
    val threads = (0 until n).map { i =>
      val t = new Thread(() => { out.add(f(i)); () })
      t.start(); t
    }
    threads.foreach(_.join())
    out.asScala.toSeq
  }

  /** The program's known race (README, "Truncated 200 under concurrency"),
    * which the workloads avoid by giving each client requests of its own:
    * in each round every client sends the same export at once. Reports
    * how many responses failed their check.
    */
  def race(o: Map[String, String]): Map[String, Any] = {
    val nproc = o("nproc").toInt
    val work = Paths.get(o("work"))
    val spark = session(nproc, work)
    val ctx = Serve.start(spark, o("data"), fresh(work.resolve("cache-race")), nproc, () => false)
    try {
      val rnd = new Random(o("seed").toLong)
      val samples = (1 to RaceRounds).flatMap { _ =>
        val r = Serve.draw(ctx, rnd, "export")
        together(nproc)(_ => Serve.send(ctx, Serve.client(), r))
      }
      val failures = samples.flatMap(_.error)
      Map("rounds" -> RaceRounds, "clients" -> nproc, "attempted" -> samples.size,
        "failed" -> failures.size, "failures" -> failures.take(20))
    } finally { ctx.stop(); spark.stop() }
  }

  private def overheadPct(traced: Double, untraced: Double): Double = traced / untraced * 100 - 100

  /** The serve load with the listeners on and each request in its own
    * job group; fills the api, generator, cache and spark metrics.
    */
  private def tracedLoad(layer: Metrics, ctx: Serve.Ctx, rec: Recorder, nproc: Int,
                         seconds: Double, seed: Long): (Seq[Serve.Sample], Double) = {
    val spark = ctx.spark
    val calls0 = ctx.eventlogCalls.get()
    val plan0 = rec.planMs.sum
    val segStartMs = System.currentTimeMillis()
    val (samples, wall) = Serve.load(ctx, nproc, seconds, seed)
    rec.drain(spark)
    val calls = ctx.eventlogCalls.get() - calls0
    samples.foreach(x => rec.record("req", "api.request", x.startNs, x.endNs,
      Map("route" -> x.route, "status" -> x.status, "bytes" -> x.bytes)))
    val n = samples.size.toDouble
    for (route <- Seq("resource", "resources", "bot", "export")) {
      val ms = samples.filter(_.route == route).map(_.ms)
      layer(s"api.$route.p50_ms") = (if (ms.isEmpty) 0.0 else Stats.median(ms), "ms")
    }
    layer("api.response_bytes") = (Stats.mean(samples.map(_.bytes.toDouble)), "bytes")
    // counters of the traced load are per request, so that serving more
    // requests in the same time does not read as more work
    layer("generator.eventlog_calls") = (calls / n, "count/op")
    val tot = rec.total(g => g.startsWith("req-") && g.stripPrefix("req-").toLong > calls0)
    sparkMetrics(layer, tot, wall, nproc, n, rec.planMs.sum - plan0)
    val written = Files.list(ctx.cacheDir).iterator().asScala.toSeq
      .filter(f => Files.getLastModifiedTime(f).toMillis >= segStartMs)
    layer("cache.files_written") = (written.size / n, "count/op")
    layer("xes.bytes_written") = (written.map(Files.size).sum / n, "bytes/op")
    (samples, wall)
  }

  /** Sends a few requests one at a time, and for each makes the same calls
    * directly into the generator, XES writer and cache, timing each as a
    * span; fills the direct-call metrics.
    */
  private def probe(layer: Metrics, ctx: Serve.Ctx, rec: Recorder, seed: Long,
                    work: Path): Seq[Serve.Sample] = {
    val spark = ctx.spark
    val rnd = new Random(seed + 1)
    val http = Serve.client()
    val probeCache = new ResultCache(fresh(work.resolve("probe-cache")), ttlSeconds = 86400L)
    val byRoute = Serve.misses(ctx, rnd).take(400).toSeq
      .groupBy(_.route).values.flatMap(_.take(ProbePerRoute)).toSeq
    val gen, genXes, drain, write, lookup, overhead = mutable.ArrayBuffer[Double]()
    val probed = mutable.ArrayBuffer[Serve.Sample]()
    byRoute.zipWithIndex.foreach { case (r, i) =>
      val op = s"probe-$i"
      spark.sparkContext.setJobGroup(op, r.route, interruptOnCancel = false)
      val p = r.params
      def timed[T](name: String)(body: => T): (T, Double) = {
        val t0 = System.nanoTime()
        val v = rec.span(op, name, Map("route" -> r.route))(body)
        (v, (System.nanoTime() - t0) / 1e6)
      }
      val (sample, _) = timed("api.http")(Serve.send(ctx, http, r))
      probed += sample
      gen += timed("generator.generate")(EventLogGenerator.generate(ctx.eventlog, p))._2
      val key = r.key
      lookup += timed("cache.lookup")(ctx.cache.lookup(key))._2
      val df = EventLogGenerator.generate(ctx.eventlog, p)
      val (_, gx) = timed("generator.generateXes")(
        EventLogGenerator.generateXes(ctx.eventlog, p, probeCache, useCache = false))
      genXes += gx
      drain += timed("xes.drain") {
        val it = XesWriter.traceXml(df).toLocalIterator()
        var k = 0L
        while (it.hasNext) { it.next(); k += 1 }
        k
      }._2
      write += timed("xes.write")(XesWriter.write(df, probeCache.pathFor(s"w-$key")))._2
      overhead += sample.ms - gx
      spark.sparkContext.clearJobGroup()
    }
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    layer("api.http_overhead_ms") = (med(overhead.toSeq), "ms")
    layer("generator.generate_ms") = (med(gen.toSeq), "ms")
    layer("generator.generate_xes_ms") = (med(genXes.toSeq), "ms")
    layer("xes.drain_ms") = (med(drain.toSeq), "ms")
    layer("xes.write_ms") = (med(write.toSeq), "ms")
    layer("cache.lookup_ms") = (med(lookup.toSeq), "ms")
    probed.toSeq
  }

  // ---- query mix ----------------------------------------------------------

  private def mixLayers(layer: Metrics, runs: Seq[QueryMix.Run], wall: Double, rec: Recorder,
                        nproc: Int, planMs: Long): Unit = {
    val byName = runs.groupBy(_.name)
    for (q <- QueryMix.Queries) {
      val rs = byName.getOrElse(q, Nil)
      def med(f: QueryMix.Run => Long) = if (rs.isEmpty) 0.0 else Stats.median(rs.map(f(_) / 1e9))
      layer(s"query.$q.wall_s") = (med(_.wallNs), "s")
      layer(s"query.$q.construct_s") = (med(_.constructNs), "s")
      if (QueryMix.Counted(q)) {
        val jobs = rec.total(_.startsWith(s"q:$q:"))("jobs")
        layer(s"query.$q.jobs") = (jobs.toDouble / math.max(1, rs.size), "count")
      }
    }
    layer("query.mix_wall_s") = (wall * QueryMix.Queries.size / runs.size, "s")
    layer("query.construct_s") = (runs.map(_.constructNs).sum / 1e9, "s")
    layer("query.exec_s") = (runs.map(_.execNs).sum / 1e9, "s")
    layer("query.construct_jobs") = (rec.total(_.endsWith(":construct"))("jobs").toDouble, "count")
    sparkMetrics(layer, rec.total(_.startsWith("q:")), wall, nproc, runs.size, planMs)
  }

  // ---- shared -------------------------------------------------------------

  /** Spark counters per operation (request or query), so that a faster
    * program, which fits more requests into a closed loop of fixed
    * length, does not read as doing more work.
    */
  private def sparkMetrics(layer: Metrics, t: Map[String, Long], wall: Double, nproc: Int,
                           ops: Double, planMs: Long): Unit = {
    val mb = 1048576.0
    layer("spark.jobs_per_request") = (t("jobs") / ops, "count")
    layer("spark.plan_ms") = (planMs / ops, "ms")
    layer("spark.task_wait_ms") = (if (t("tasks") == 0) 0.0 else t("wait_ms").toDouble / t("tasks"), "ms")
    layer("spark.stages") = (t("stages") / ops, "count/op")
    layer("spark.tasks") = (t("tasks") / ops, "count/op")
    layer("spark.executor_cpu_s") = (t("cpu_ns") / 1e9 / ops, "s/op")
    layer("spark.cpu_util") = (t("cpu_ns") / 1e9 / (wall * nproc), "ratio")
    layer("spark.shuffle_read_mb") = (t("shuffle_read") / mb / ops, "MB/op")
    layer("spark.shuffle_write_mb") = (t("shuffle_write") / mb / ops, "MB/op")
    layer("spark.spill_mb") = (t("spill") / mb / ops, "MB/op")
  }

  /** Every metric of `catalog`, in its order; a metric of a layer the
    * workload does not exercise reads 0.
    */
  private def inCatalogOrder(m: Metrics, catalog: Seq[(String, String)]): Metrics =
    catalog.foldLeft(new Metrics) { case (out, (name, unit)) => out += name -> m.getOrElse(name, (0.0, unit)) }

  private def warmUp(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val base = spark.range(0L, 20000L, 1L, 8).select(col("id"), pmod(col("id"), lit(97L)).as("k"))
    val agg = base.groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("id")).as("s"))
    base.join(agg, Seq("k"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("k")).orderBy(col("id"))))
      .filter(col("rn") <= 3).write.format("noop").mode("overwrite").save()
  }

  private def fresh(dir: Path): Path = {
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala.foreach(Files.delete)
      finally s.close()
    }
    Files.createDirectories(dir)
  }

  /** Memory the JVM still holds after a full collection: heap in use plus
    * non-heap in use (class metadata, JIT code). Called right after the
    * timed phase, outside its clock.
    */
  private def retainedMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** The process's peak resident set (VmHWM), for the run information. */
  private def peakRssMb(): Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) return Runtime.getRuntime.totalMemory / 1048576.0
    Files.readAllLines(status).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  private def writeTrace(path: Path, rec: Recorder): Unit = {
    Files.createDirectories(path.getParent)
    val lines = rec.spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Stats.json(Map("id" -> s.id, "op" -> s.op, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs))
    }
    Files.write(path, lines.asJava, UTF_8)
  }
}
