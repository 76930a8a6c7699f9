package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.SparkSession

/** Runs one workload in this JVM and writes the measurements as JSON.
  *
  * Protocol: set up the session (JVM start to a ready session with the
  * metastore and the warm-up query), one cold pass, untimed passes until a
  * third of the time has passed since the cold pass began, measured warm
  * passes for the rest, and a last pass that writes every result for the
  * output check. With tracing on, the cold pass and every other warm pass
  * run with listeners, spans and log counters attached; the passes between
  * run without them, to measure their overhead.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --cpus N --sf DIR --corpus DIR --work DIR --keep DIR --out FILE
  *
  * `work` holds this run's files; `keep` holds the catalog, which outlives
  * the run.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(x => x(0).stripPrefix("--") -> x(1)).toMap
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val traced = a("trace") == "1"
    val seconds = a("seconds").toDouble
    val work = a("work")
    val cpus = a("cpus").toInt
    val wl = Workloads(a("workload"), a("sf"), a("corpus"), work)
    val conf = wl.conf ++ (if (!traced) Map.empty else Map(
      "spark.hadoop.fs.file.impl" -> classOf[CountingLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" ->
        classOf[org.apache.hadoop.fs.local.CountingLocalFs].getName))
    val rng = new Random(a("seed").toLong)
    val tracer = new Tracer
    val res = mutable.LinkedHashMap[String, Any]()

    val logs = if (traced) Some(LogCounter.attach()) else None
    val jvm0 = JvmFs.snapshot()
    val t0 = System.nanoTime()
    val spark = Session.open(cpus, work, a("keep"), conf)
    val buildMs = (System.nanoTime() - t0) / 1e6
    Session.warmUp(spark, a("sf"))
    val setupS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val setupWarns = logs.map(l => (l.warnLines.get, l.fnReplaced.get))

    val batches = new BatchListener
    spark.streams.addListener(batches)
    val probes = if (traced) Some(new Probes(spark, cpus, batches)) else None
    val runner = new Runner(spark, wl, tracer)

    val order = rng.shuffle(wl.queries)
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    val cold = runner.pass("cold", order, probes)
    val jvmCold = JvmFs.delta(jvm0, JvmFs.snapshot())
    val codegen = logs.map(l => (l.codegenMs.sum, l.codegenClasses.get))
    // Live heap after the cold pass and after every query of the measured
    // passes and of the check pass. The heap left after a query depends on
    // the queries before it, so the peak is taken over every position, the
    // check pass's fixed order included. Traced runs, which do not report
    // it, skip these collections, so that their untraced and traced passes
    // differ only in the tracing.
    val heap = mutable.ArrayBuffer(JvmFs.liveHeapMb())
    def sampleHeap(q: String): Unit = if (!traced) heap += JvmFs.liveHeapMb()

    // The first third of the time, the cold pass included, warms the JIT and
    // caches, untimed; then measured passes until the time is up, at least
    // two. With tracing, untraced and traced passes alternate, so both see
    // the same JIT state.
    val warmUps = mutable.ArrayBuffer[PassResult]()
    while (elapsed < seconds / 3)
      warmUps += runner.pass(s"warmup${warmUps.size}", rng.shuffle(wl.queries), None)
    val warm = mutable.ArrayBuffer[PassResult]()
    val tracedWarm = mutable.ArrayBuffer[PassResult]()
    def more(ps: Seq[PassResult]) = ps.size < 2 || elapsed < seconds
    while (more(warm.toSeq) || (traced && more(tracedWarm.toSeq))) {
      warm += runner.pass(s"warm${warm.size}", rng.shuffle(wl.queries), None,
        after = sampleHeap)
      logs.foreach { l =>
        val w0 = l.warnLines.get; val f0 = l.fnReplaced.get
        val p = runner.pass(s"traced${tracedWarm.size}", rng.shuffle(wl.queries), probes)
        p.extra ++= Map("log.warn_lines" -> (l.warnLines.get - w0).toDouble,
          "log.fn_replaced_warns" -> (l.fnReplaced.get - f0).toDouble)
        tracedWarm += p
      }
    }
    val fn = if (traced) FnTable.run(spark) else Map.empty[String, Double]

    val checkProbes = new Probes(spark, cpus, batches)
    val check = new Runner(spark, wl, tracer).pass("check", wl.queries, Some(checkProbes),
      out = Some(s"$work/out"), after = sampleHeap)
    val inputRecords = checkProbes.exec.stagesOf("check").map(_.inputRecords).sum

    res("setup_s") = setupS
    res("first_pass_s") = cold.wallS
    res("warm_pass_s") = warm.map(_.wallS).toSeq
    res("query_s") = warm.flatMap(_.times.map(_._2)).filter(_ >= 0).toSeq
    res("query_warm_s") = warm.flatMap(_.times).groupBy(_._1).map { case (q, ts) => q -> ts.map(_._2) }
    res("query_cold_s") = cold.times.toMap
    res("batch_ms") = warm.flatMap(p => batches.all.filter(b => b.startMs >= p.startMs &&
      b.startMs <= p.endMs).map(_.triggerMs.toDouble)).toSeq
    res("heap_live_mb") = heap.toSeq
    res("input_records_per_pass") = inputRecords
    val all = Seq(cold, check) ++ warmUps ++ warm ++ tracedWarm
    res("attempted") = all.map(_.times.size).sum
    res("failures") = all
      .flatMap(p => p.failures.map { case (q, m) => s"${p.id}/$q" -> m }).toMap
    res("checked") = check.times.filter(_._2 >= 0).map(_._1)
    res("oracle_sql") = graft.SparkEntry.oracleSql.filter(kv => wl.queries.exists(_.name == kv._1))

    if (traced) {
      val untracedWall = Stats.median(warm.map(_.wallS).toSeq)
      val tracedWall = Stats.median(tracedWarm.map(_.wallS).toSeq)
      val layer = Stats.medianMaps(tracedWarm.map(_.extra.toMap).toSeq)
      res("per_layer") = layer ++ fn.filter(!_._1.endsWith("builtin_matches")) ++ Map(
        "session.build_ms" -> buildMs,
        "codegen.compile_ms" -> codegen.get._1,
        "codegen.classes" -> codegen.get._2.toDouble,
        "jvm.jit_ms" -> jvmCold("jvm.jit_ms"),
        "jvm.gc_ms" -> jvmCold("jvm.gc_ms"),
        "trace.overhead_frac" -> (tracedWall / untracedWall - 1.0))
      res("builtin_matches") = fn.filter(_._1.endsWith("builtin_matches"))
      res("setup_warns") = setupWarns.map { case (w, f) => Map("warn_lines" -> w, "fn_replaced" -> f) }
      res("per_query") = tracedWarm.head.perQuery
      res("single_task_window_queries") = tracedWarm.head.perQuery
        .filter(_._2.getOrElse("plan.single_task_windows", 0.0) > 0).keys.toSeq.sorted
      Files.writeString(Paths.get(a("out")).resolveSibling("spans.json"), Trace.toJson(tracer.spans))
    }
    res("env") = Map(
      "cpus" -> cpus, "master" -> s"local[$cpus]",
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    Files.writeString(Paths.get(a("out")), Json(res))
    spark.stop()
  }
}

object Session {
  /** The session `graft.Bench` builds, with its catalog under `keep` and its
    * scratch space under `work`. */
  def open(cpus: Int, work: String, keep: String, conf: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$keep/spark-warehouse")
      .config("spark.hadoop.hive.exec.scratchdir", s"$keep/hive-scratch")
      .config("spark.hadoop.hive.downloaded.resources.dir", s"$work/hive-resources")
      .config("spark.hadoop.javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$keep/metastore_db;create=true")
      .enableHiveSupport()
    conf.foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** `graft.Bench`'s warm-up: one query, and the metastore's first use. */
  def warmUp(s: SparkSession, sf: String): Unit = {
    graft.SparkEntry.queries("q01_pricing_summary")(s, sf)
      .write.format("noop").mode("overwrite").save()
    s.catalog.listTables()
    s.catalog.clearCache()
  }
}

final case class PassResult(id: String, wallS: Double, startMs: Double, endMs: Double,
    times: Seq[(String, Double)], failures: Map[String, String],
    windows: Seq[(String, Double, Double)]) {
  /** Per-layer metrics of a traced pass, whole and per query. */
  val extra: mutable.Map[String, Double] = mutable.Map()
  val perQuery: mutable.LinkedHashMap[String, Map[String, Double]] = mutable.LinkedHashMap()
}

/** Runs passes over a workload's queries, serially, one client. */
final class Runner(spark: SparkSession, wl: Workload, tracer: Tracer) {
  /** `after` runs after each query, outside the pass's wall time. */
  def pass(id: String, qs: Seq[Query], probes: Option[Probes],
      out: Option[String] = None, after: String => Unit = _ => ()): PassResult = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tag.Pass, id)
    val traced = probes.isDefined
    probes.foreach(_.on())
    val startMs = tracer.nowMs
    val t0 = System.nanoTime()
    val failures = mutable.LinkedHashMap[String, String]()
    val windows = mutable.ArrayBuffer[(String, Double, Double)]()
    val times = mutable.ArrayBuffer[(String, Double)]()
    var afterNs = 0L
    def body(): Unit = qs.foreach { q =>
      sc.setLocalProperty(Tag.Query, q.name)
      val q0 = System.nanoTime(); val w0 = tracer.nowMs
      val ok = try {
        val target = out.map(o => s"$o/${q.name}")
        if (!traced) q.prepare(spark, target)()
        else tracer.span(s"query:${q.name}", s"$id/${q.name}") {
          val inner = () => {
            val act = tracer.span("build")(q.prepare(spark, target))
            tracer.span("execute")(act())
          }
          if (q.isInstanceOf[EntryQuery]) inner() else tracer.span("mr.run")(inner())
        }
        true
      } catch {
        case e: Throwable =>
          failures(q.name) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
          false
      }
      times += q.name -> (if (ok) (System.nanoTime() - q0) / 1e9 else -1.0)
      windows += ((q.name, w0, tracer.nowMs))
      spark.catalog.clearCache()
      val h0 = System.nanoTime()
      after(q.name)
      afterNs += System.nanoTime() - h0
    }
    if (traced) tracer.span("workload", s"$id/${wl.name}")(body()) else body()
    val wall = (System.nanoTime() - t0 - afterNs) / 1e9
    val r = PassResult(id, wall, startMs, tracer.nowMs, times.toSeq, failures.toMap, windows.toSeq)
    probes.foreach(_.off(r, tracer))
    sc.setLocalProperty(Tag.Query, null)
    r
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def medianMaps(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k => k -> median(ms.flatMap(_.get(k)))).toMap
}

/** Writes the result record and the spans. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}
