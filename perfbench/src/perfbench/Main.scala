package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Extraction}
import org.json4s.jackson.JsonMethods

import scala.collection.immutable.ListMap
import scala.collection.mutable

/** One timed request as the client saw it. */
final case class Sample(id: Long, req: Req, ms: Double, clientCpuNs: Long, rows: Long,
    error: Option[String], startMs: Long, endMs: Long)

/** Benchmark entry point: one workload, one seed, one closed-loop client.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                --out <result.json> --work <scratch dir>
  * }}}
  * The untraced run measures the end-to-end metrics. The traced run
  * spends half its time untraced and half traced, and reports the
  * per-layer metrics and the tracing overhead between the halves.
  */
object Main {
  val ShufflePartitions = 8
  val SetupReps = 3
  val ReuseRows = 400000L
  val OneshotRows = 1200000L
  val DocsPerShard = 1200
  /** Spark's code cache (default 100 entries) is smaller than the set of
    * generated classes one cycle of the reuse mix (~170) or of the
    * curation recipe and its checks (~105) needs, so with the default
    * every request compiled 30-100 classes anew and the JIT never settled.
    */
  val CodegenCacheEntries = 1000

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args.getOrElse("trace", "0") == "1"
    val work = Paths.get(args("work")).toAbsolutePath.toString
    val procStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", ShufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    val rollup = new Rollup
    sc.addSparkListener(rollup)
    val sessionMs = System.currentTimeMillis() - procStartMs

    val w: Workload = workload match {
      case "groupby_reuse" => new GroupByReuse(spark, seed, ReuseRows)
      case "groupby_oneshot" => new GroupByOneshot(spark, seed, OneshotRows, s"$work/oneshot")
      case "curation_pipeline" => new CurationPipeline(spark, seed, DocsPerShard, s"$work/curation")
      case other => sys.error(s"unknown workload $other")
    }

    // ---- set-up: data (several times, median counted), checks, warm-up
    sc.setJobGroup("setup/", "setup/")
    val dataMs = (1 to SetupReps).map { _ =>
      val t = System.nanoTime(); w.setupData(); (System.nanoTime() - t) / 1e6
    }
    // reference answers beside the workload's warm-up passes over one
    // cycle of the mix (every type and input variant). Within a pass the
    // requests run side by side on a thread per core: set-up is cold JIT
    // and codegen work that a single thread would serialize. Passes run
    // one after another. Warm-up outputs are checked after.
    val untraced = new Tracer(spark, enabled = false)
    var nextId = 0L
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    val t1 = System.nanoTime()
    val checks = pool.submit(() => { w.prepareChecks(); (System.nanoTime() - t1) / 1e6 })
    val warmRuns = (1 to w.warmPasses).flatMap { _ =>
      w.cycle.map { r =>
        val id = nextId; nextId += 1
        val tr = new Tracer(spark, enabled = false)
        pool.submit(() => (timed(w, r, tr, id, spark), tr))
      }.map(_.get())
    }
    val checksMs = checks.get()
    val sideBySide = warmRuns.map { case ((sample, done), tr) => checked(sample, done, tr, spark) }
    pool.shutdown()
    // then requests one at a time, as the timed loop sends them
    val warm = sideBySide ++ Iterator.continually(w.cycle).flatten.take(w.warmSerial).map { r =>
      val s = runOne(w, r, untraced, nextId, spark); nextId += 1; s
    }.toVector
    val warmMs = (System.nanoTime() - t1) / 1e6
    val setupS = (sessionMs + Stats.median(dataMs) + warmMs) / 1000.0

    // ---- timed phases
    var cacheMb = 0.0
    // a traced run's halves each complete at least one cycle of the mix,
    // so every layer is traced and cycle counts are whole
    def phase(tr: Tracer, secs: Double, minRequests: Int): Vector[Sample] = {
      val out = mutable.ArrayBuffer.empty[Sample]
      val deadline = System.nanoTime() + (secs * 1e9).toLong
      val sched = Iterator.continually(w.cycle).flatten
      while (System.nanoTime() < deadline || out.size < minRequests) {
        out += runOne(w, sched.next(), tr, nextId, spark); nextId += 1
        cacheMb = math.max(cacheMb, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0)
      }
      rollup.drain()
      out.toVector
    }
    val traced = if (trace) Some(new Tracer(spark, enabled = true)) else None
    // code compiled while the untraced requests ran: Janino classes (Spark
    // codegen cache misses) and JVM JIT time, per request
    val jit = ManagementFactory.getCompilationMXBean
    val (classes0, jit0) = (CodegenMetrics.METRIC_COMPILATION_TIME.getCount, jit.getTotalCompilationTime)
    val plain = phase(untraced, if (trace) seconds / 2 else seconds,
      if (trace) w.cycle.size else 1)
    val compile = Map(
      "spark.codegen_classes" ->
        (CodegenMetrics.METRIC_COMPILATION_TIME.getCount - classes0).toDouble / plain.size,
      "jvm.jit_ms" -> (jit.getTotalCompilationTime - jit0).toDouble / plain.size)
    val tracedSamples = traced.map(tr => phase(tr, seconds / 2, w.cycle.size))
      .getOrElse(Vector.empty)

    val e2e = endToEnd(plain, rollup, setupS, cacheMb)
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "attempted" -> plain.size, "failed" -> plain.count(_.error.nonEmpty),
      "correct" -> (warm ++ plain ++ tracedSamples).forall(_.error.isEmpty),
      "errors" -> (warm ++ plain ++ tracedSamples).flatMap(s => s.error.map(e => s"${s.req}: $e")).distinct.take(10),
      "end_to_end" -> e2e,
      "setup_breakdown_ms" -> Map("session" -> sessionMs, "data_median" -> Stats.median(dataMs),
        "data_all" -> dataMs, "checks" -> checksMs, "checks_and_warmup" -> warmMs),
      "per_type" -> perType(plain),
      "requests" -> (warm ++ plain ++ tracedSamples).map(s => Seq(s.id, s.req.kind, s.req.variant,
        math.round(s.ms * 1000) / 1000.0, s.error.isEmpty)),
      "inputs" -> w.describe,
      "compile" -> compile,
      "jvm" -> Map("heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576, "cores" -> cores,
        "java" -> System.getProperty("java.version"), "spark" -> spark.version),
      "spark_conf" -> sc.getConf.getAll.filterNot(_._1.startsWith("spark.app.")).sortBy(_._1).toMap)
    traced.foreach { tr =>
      val layers = Layers.perLayer(w, tr, tracedSamples, plain, rollup, dataMs, e2e)
      result("per_layer") = layers ++ compile
      result("spans") = spanDump(tr)
    }
    Files.write(Paths.get(args("out")), toJson(result).getBytes("UTF-8"))
    spark.stop()
  }

  private val threads = ManagementFactory.getThreadMXBean

  def runOne(w: Workload, r: Req, tr: Tracer, id: Long, spark: SparkSession): Sample = {
    val (sample, done) = timed(w, r, tr, id, spark)
    checked(sample, done, tr, spark)
  }

  /** Run one request; the clock and the client CPU clock stop before its check. */
  def timed(w: Workload, r: Req, tr: Tracer, id: Long,
      spark: SparkSession): (Sample, Either[String, Done]) = {
    val c0 = threads.getCurrentThreadCpuTime
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val done = try Right(tr.request(id, r.kind)(w.run(r, tr)))
      catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)) }
    val t1 = System.nanoTime()
    val ms1 = System.currentTimeMillis()
    val c1 = threads.getCurrentThreadCpuTime
    (Sample(id, r, (t1 - t0) / 1e6, c1 - c0, done.map(_.rows).getOrElse(0L), None, ms0, ms1), done)
  }

  /** Check a request's output, then release the frames it held. */
  def checked(s: Sample, done: Either[String, Done], tr: Tracer, spark: SparkSession): Sample = {
    val sc = spark.sparkContext
    sc.setJobGroup("check/", "check/")
    val err = done.fold(Some(_), d =>
      try d.check() catch { case e: Exception => Some(s"check failed: ${e.getMessage}".take(500)) })
    tr.release()
    sc.clearJobGroup()
    s.copy(error = err)
  }

  def requestSlice(rollup: Rollup, s: Sample): Slice = {
    val p = s"r${s.id}/"
    rollup.snapshot(_.startsWith(p))
  }

  /** End-to-end metrics of the untraced requests. Every timing is a
    * median per request type first, so one slow request (a GC pause, a
    * host hiccup) moves nothing; types then combine with equal weight.
    */
  def endToEnd(plain: Vector[Sample], rollup: Rollup, setupS: Double,
      cacheMb: Double): Map[String, Double] = {
    val byType = plain.groupBy(_.req.kind).values.toSeq
    def med(ss: Seq[Sample], f: Sample => Double) = Stats.median(ss.map(f))
    val cpuMs = (s: Sample) => requestSlice(rollup, s).cpuMs + s.clientCpuNs / 1e6
    Map(
      "setup_s" -> setupS,
      "latency_p50_ms" -> Stats.geomean(byType.map(med(_, _.ms))),
      "latency_tail_ms" -> Stats.geomean(byType.map(ss => Stats.tail(ss.map(_.ms))._1)),
      // a pass through the mix at each type's median latency
      "rows_per_s" -> byType.map(med(_, _.rows.toDouble)).sum / byType.map(med(_, _.ms)).sum * 1000,
      "cpu_ms_per_request" -> byType.map(med(_, cpuMs)).sum / byType.size,
      "cache_mb" -> cacheMb,
      "failed_frac" -> plain.count(_.error.nonEmpty).toDouble / plain.size)
  }

  def perType(plain: Vector[Sample]): Map[String, Any] =
    plain.groupBy(_.req.kind).map { case (k, ss) =>
      val ms = ss.map(_.ms)
      val (tail, pct, n) = Stats.tail(ms)
      k -> Map("samples" -> n, "p50_ms" -> Stats.median(ms), "p25_ms" -> Stats.quantile(ms, 0.25),
        "p75_ms" -> Stats.quantile(ms, 0.75), "tail_ms" -> tail, "tail_percentile" -> pct,
        "failed" -> ss.count(_.error.nonEmpty))
    }

  /** JSON text of maps, sequences and scalars; non-finite doubles become null. */
  private def toJson(v: Any): String = {
    def finite(x: Any): Any = x match {
      case d: Double if d.isNaN || d.isInfinite => null
      case m: scala.collection.Map[_, _] =>
        ListMap(m.toSeq.map { case (k, y) => k.toString -> finite(y) }: _*)
      case xs: Iterable[_] => xs.map(finite).toList
      case other => other
    }
    JsonMethods.compact(Extraction.decompose(finite(v))(DefaultFormats))
  }

  private def spanDump(tr: Tracer): Seq[Map[String, Any]] = {
    val self = tr.selfNs
    tr.spans.toSeq.map(s => Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "request" -> s.request, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "self_ms" -> self(s.id) / 1e6))
  }
}
