package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One call the workload times: a layer call in the batch workload, one
  * query in the analyst loop.
  */
final case class Op(name: String, module: String, round: Int, seconds: Double, ok: Boolean,
                    parts: Map[String, Double], error: String)

final case class Check(name: String, ok: Boolean, detail: String)

/** What a workload sees of the harness: spans, timed ops, checks and the
  * between-op probes, whose cost is kept out of the run's figures.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val outDir: String) {
  val ops = ArrayBuffer[Op]()
  val checks = ArrayBuffer[Check]()
  var round = 0
  var timing = false
  var firstOpEpochNs = 0L
  var probeNs = 0L
  var probeCpuNs = 0L
  var liveHeapMb = 0.0

  private var parts = scala.collection.mutable.LinkedHashMap[String, Double]()

  /** Times `body` as one op made of one span. */
  def op[A](span: String, module: String = "")(body: => A): A =
    opParts(span, module)(part(span)(body))

  /** Times one op made of consecutive `part` spans; its latency is their
    * sum. A failure is recorded, then rethrown.
    */
  def opParts[A](name: String, module: String)(body: => A): A = {
    if (timing && firstOpEpochNs == 0L) firstOpEpochNs = Main.epochNs()
    parts = scala.collection.mutable.LinkedHashMap[String, Double]()
    def record(ok: Boolean, error: String): Unit =
      if (timing) ops += Op(name, module, round, parts.values.sum, ok, parts.toMap, error)
    try { val r = body; record(ok = true, ""); r }
    catch {
      case NonFatal(e) =>
        record(ok = false, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        throw e
    }
  }

  /** One span of the current op. */
  def part[A](span: String, attrs: Map[String, String] = Map.empty)(body: => A): A = {
    val t = System.nanoTime()
    try tracer.span(span, attrs)(body)
    finally parts(span) = parts.getOrElse(span, 0.0) + (System.nanoTime() - t) / 1e9
  }

  def check(name: String, ok: Boolean, detail: String): Unit = checks += Check(name, ok, detail)

  /** Harness work between ops (result hashing, exports, heap probes):
    * its wall and CPU time are subtracted from the round's figures.
    */
  def probe[A](body: => A): A =
    if (inProbe) body
    else {
      val t = System.nanoTime(); val c = Main.cpuNs()
      inProbe = true
      try body
      finally {
        inProbe = false
        probeNs += System.nanoTime() - t; probeCpuNs += Main.cpuNs() - c
      }
    }
  private var inProbe = false

  /** Heap still live after a full collection, in MB; the run reports the
    * largest value seen at any probe.
    */
  def heapProbe(): Unit = probe {
    // the second collection frees what Spark's ContextCleaner released
    // when the first one cleared its weak references
    System.gc()
    Thread.sleep(200)
    System.gc()
    val used = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    liveHeapMb = math.max(liveHeapMb, used / 1048576.0)
  }
}

trait Workload {
  /** Untimed: inputs, caches the timed work reads, and one JIT warm pass. */
  def setup(ctx: Ctx): Unit
  /** One fixed unit of timed work. */
  def round(ctx: Ctx): Unit
  /** Untimed: releases what set-up cached, before the end-of-run storage figures. */
  def teardown(ctx: Ctx): Unit = ()
  /** Spans whose rows_out the run reports, by span name. */
  def rowsOut: Map[String, Long] = Map.empty
}

object Main {
  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNs(): Long = os.getProcessCpuTime

  private def write(path: String, text: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(text) finally w.close()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val outDir = opt("out")
    val cores = opt("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workloadName")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", opt("tmp") + "/spark-local")
      .config("spark.sql.warehouse.dir", opt("tmp") + "/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // the session configuration the program's own drivers (Bench, Verify) use
    graft.plans.RowNumberTopK.install(spark)
    val listener = if (traced) Some(new SpanListener) else None
    listener.foreach(spark.sparkContext.addSparkListener)
    val tracer = new Tracer(spark.sparkContext, listener)
    val ctx = new Ctx(spark, tracer, outDir)
    val wl: Workload = workloadName match {
      case "readmit_train" => new ReadmitTrain(seed, traced)
      case "analyst_queries" => new Analyst(opt("data"), opt("plan"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val rounds = ArrayBuffer[(Int, Double, Double)]() // (round, wall s, cpu s)
    var aborted = ""
    try {
      tracer.span("setup")(wl.setup(ctx))
      ctx.timing = true
      val runStart = System.nanoTime()
      // whole rounds until --seconds have passed, at least one
      while (aborted.isEmpty && (rounds.isEmpty || (System.nanoTime() - runStart) / 1e9 < seconds)) {
        ctx.round = rounds.size
        val (p0, pc0) = (ctx.probeNs, ctx.probeCpuNs)
        val (t0, c0) = (System.nanoTime(), cpuNs())
        try tracer.span("round", Map("round" -> ctx.round.toString))(wl.round(ctx))
        catch { case NonFatal(e) => aborted = s"${e.getClass.getSimpleName}: ${e.getMessage}"; e.printStackTrace() }
        val wall = (System.nanoTime() - t0 - (ctx.probeNs - p0)) / 1e9
        val cpu = (cpuNs() - c0 - (ctx.probeCpuNs - pc0)) / 1e9
        rounds += ((ctx.round, wall, cpu))
      }
      ctx.timing = false
      ctx.heapProbe()
      wl.teardown(ctx)
    } catch {
      case NonFatal(e) => aborted = s"${e.getClass.getSimpleName}: ${e.getMessage}"; e.printStackTrace()
    }
    val sc = spark.sparkContext
    listener.foreach(_ => org.apache.spark.PerfbenchBus.drain(sc))
    val storage = sc.getRDDStorageInfo
    val cacheMb = storage.map(r => r.memSize + r.diskSize).sum / 1048576.0
    val cachedRdds = sc.getPersistentRDDs.size
    val spans = tracer.spans
    val roundIds = spans.filter(_.name == "round").map(_.id).toSet
    val setupIds = spans.filter(_.name == "setup").map(_.id).toSet
    // layer calls made in set-up count towards their layer, not the round
    val layerSpans = spans.filter(s => roundIds(s.parent) || setupIds(s.parent))
    val roundSpans = layerSpans.filter(s => roundIds(s.parent))
    val env = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / 1048576).toString,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "spark" -> spark.version,
      "spark_conf" -> sc.getConf.getAll.filterNot(_._1.startsWith("spark.app")).sorted
        .map { case (k, v) => s"$k=$v" }.mkString(" "))
    val layers = layerSpans.groupBy(_.name).map { case (name, ss) =>
      val w = new Work
      ss.foreach(s => w.add(tracer.work(s)))
      name -> Json.obj(
        "busy_s" -> ss.map(_.seconds).sum, "jobs" -> w.jobs,
        "tasks" -> w.tasks, "task_s" -> w.taskNs / 1e9,
        "shuffle_mb" -> w.shuffleBytes / 1048576.0, "spill_mb" -> w.spillBytes / 1048576.0,
        "gc_s" -> w.gcMs / 1000.0, "rows_out" -> wl.rowsOut.getOrElse(name, -1L))
    }
    // bytes each op wrote, from the listener (traced run only)
    val opOutput = layerSpans.filter(_.attrs.contains("query")).groupBy(_.attrs("query"))
      .map { case (q, ss) => q -> ss.map(s => tracer.work(s).outputBytes).sum }
    val result = Json.obj(
      "workload" -> workloadName, "seed" -> seed, "traced" -> traced, "cores" -> cores,
      "aborted" -> aborted,
      "first_op_epoch_ns" -> ctx.firstOpEpochNs,
      "rounds" -> rounds.map { case (r, w, c) => Json.obj("round" -> r, "wall_s" -> w, "cpu_s" -> c) },
      "ops" -> ctx.ops.map(o => Json.obj("name" -> o.name, "module" -> o.module,
        "round" -> o.round, "s" -> o.seconds, "ok" -> o.ok, "parts" -> o.parts, "error" -> o.error)),
      "checks" -> ctx.checks.map(c => Json.obj("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "live_heap_mb" -> ctx.liveHeapMb, "cache_mb" -> cacheMb, "cached_rdds" -> cachedRdds,
      "layers" -> layers,
      "op_output_mb" -> opOutput.map { case (k, v) => k -> v / 1048576.0 },
      "layer_cover_s" -> roundSpans.map(_.seconds).sum,
      "listener_s" -> listener.map(_.callbackNs.get / 1e9).getOrElse(0.0),
      "env" -> env,
      "spans" -> spans.map(s => Json.obj("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9, "attrs" -> s.attrs)))
    // the DuckDB oracle of every exported result, for the output checks
    val exported = Option(new java.io.File(s"$outDir/results").list()).map(_.toSeq).getOrElse(Nil)
    val oracles = graft.SparkEntry.oracleSql.filter { case (q, _) => exported.contains(q) }
    write(s"$outDir/oracle_sql.json", Json.render(oracles))
    write(s"$outDir/result.json", Json.render(result))
    spark.stop()
  }
}

/** Just enough JSON output for the result file. */
object Json {
  def obj(kv: (String, Any)*): Map[String, Any] = scala.collection.immutable.ListMap(kv: _*)

  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
