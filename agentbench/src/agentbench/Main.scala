package agentbench

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import graft.api.{MemoryConfig, MemoryManager}
import graft.core.GraphStore
import graft.ext._

/** One agent workload: a seeded store and the turn mix run against it. */
final case class Workload(
    name: String,
    memories: Int,
    entities: Int,
    adds: Boolean,
    diverseEvery: Int,
    warmupTurns: Int,
    minTurns: Int,
    config: MemoryConfig)

object Workload {
  val Tenant = "user00"

  /** Read-only turns (search, every 5th diverse, then stats) over a
    * 1,000-memory single-tenant store: the search path with the store idle
    * (no appends, no graph recompute).
    */
  val Recall = Workload("recall_1k", memories = 1000, entities = 200, adds = false,
    diverseEvery = 5, warmupTurns = 3, minTurns = 1,
    MemoryConfig(userId = Tenant))
  /** Chat turns (add, search, stats) with graph algorithms, topology boost
    * and community summaries on: every search after an add recomputes the
    * whole-graph metrics, on the exact paths below the 4,096-node gates.
    * A turn takes seconds, and the first turns after warm-up still speed
    * up, so a run always times two.
    */
  val GraphChat = Workload("graph_chat_200", memories = 200, entities = 100, adds = true,
    diverseEvery = 0, warmupTurns = 1, minTurns = 2,
    MemoryConfig(userId = Tenant, enableGraphAlgorithms = true,
      enableTopologyBoost = true, enableCommunitySummaries = true))

  val All: Seq[Workload] = Seq(Recall, GraphChat)
}

/** Drives MemoryManager's public API the way an agent does: one client in a
  * closed loop, each call issued after the previous one returned.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  * Prints a detail line and then, as the last line, the result JSON.
  * Exits 1 when an output check failed, 2 on bad arguments or a failed
  * self-test.
  */
object Main {
  val K = 10
  /** Fresh stores seeded per run: setup_s takes the median seeding time,
    * ingest_per_s the fastest (the first seeding also warms the JVM).
    */
  val SetupReps = 5
  /** No turn starts this many seconds after the run began, so a run on a
    * loaded host still ends within its time limit.
    */
  val HardCapS = 120.0

  final case class Op(kind: String, tag: String, traced: Boolean, ms: Double,
      startMs: Long, endMs: Long)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String): String = opts.getOrElse(k, fail(s"missing $k"))
    val selfTest = SelfTest.run()
    if (selfTest.nonEmpty) fail(selfTest.mkString("self-test failed:\n", "\n", ""))
    val w = Workload.All.find(_.name == need("--workload"))
      .getOrElse(fail(s"unknown workload; known: ${Workload.All.map(_.name).mkString(", ")}"))
    val seconds = need("--seconds").toDouble
    val trace = need("--trace") == "1"
    val r = new Run(w, need("--seed").toLong, seconds, trace, need("--work")).result()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    println(json.writeValueAsString(Map("detail" -> r.detail)))
    println(json.writeValueAsString(ListMap("correct" -> r.correct, "attempted" -> r.attempted,
      "failed" -> r.failed, "metrics" -> ListMap(r.metrics.map { case (k, (v, u)) =>
        k -> ListMap("value" -> v, "unit" -> u) }: _*))))
    System.out.flush()
    sys.exit(if (r.correct) 0 else 1)
  }

  def fail(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }
}

final case class Result(correct: Boolean, attempted: Long, failed: Long,
    metrics: Seq[(String, (Double, String))], detail: Map[String, Any])

/** One run of one workload: session, seeded setup, warm-up, timed phase. */
final class Run(w: Workload, seed: Long, seconds: Double, trace: Boolean, work: String) {
  import Main._

  private def now(): Double = System.nanoTime() / 1e9
  private def ms(t0: Double): Double = (now() - t0) * 1000

  private val violations = ArrayBuffer.empty[String]
  private val errors = ArrayBuffer.empty[String]
  private val ops = ArrayBuffer.empty[Op]
  private val turnMs = ArrayBuffer.empty[(Boolean, Double)]
  private val fills = ArrayBuffer.empty[Double]
  private val digest = new Digest
  private var attempted = 0L
  private var failed = 0L
  private val gen = new Gen(seed, w.entities, 1.1)
  private val meter = new Meter
  private val jobTrace = new JobTrace

  private val t0 = now()
  private val cpus = Runtime.getRuntime.availableProcessors()
  private val spark = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("agentbench")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
    .getOrCreate()
  spark.sparkContext.setLogLevel("ERROR")
  private val sc = spark.sparkContext
  private val sessionS = now() - t0

  private def newManager(): MemoryManager = {
    val store = new GraphStore(spark)
    if (trace) new MemoryManager(spark, w.config, store,
      new meter.Embed(new MockEmbedder(16)), new meter.Extract(new HeuristicExtractor),
      new meter.Reconcile(new AddAllReconciler),
      summarizer = new meter.Summarize(new ConcatSummarizer), tracer = meter.Switch)
    else new MemoryManager(spark, w.config, store, new MockEmbedder(16),
      new HeuristicExtractor, new AddAllReconciler)
  }

  private def added(events: Seq[graft.api.MemoryEvent]): Seq[String] =
    events.filter(_.event == "ADD").flatMap(_.memoryId)

  // seeding: SetupReps fresh stores from the same inputs; the last is kept.
  // A scoped count materialises the appended rows inside the timed part;
  // a stats call on the kept store checks the row count against the ledger.
  private val texts = (0 until w.memories).map(gen.seedText)
  private var m: MemoryManager = _
  private var ledger: Ledger = _
  private val seedS = (0 until SetupReps).map { _ =>
    m = null; ledger = null
    System.gc()
    val mm = newManager()
    val l = new Ledger(Workload.Tenant)
    val s0 = now()
    l.record(mm.addReconcileBatch(texts, now = Some(gen.seedNow)).flatMap(r => added(r.events)))
    mm.scopedMemories().count()
    val s = now() - s0
    m = mm; ledger = l
    s
  }
  violations ++= Checks.stats(m.stats(), ledger).map("seed: " + _)
  private val store = m.store

  /** Times one call; failures are counted, not thrown. */
  private def op[A](kind: String, turn: Int, traced: Boolean, timed: Boolean)(
      call: => A)(check: A => Unit): Double = {
    val tag = s"$kind#$turn"
    if (timed) attempted += 1
    if (traced) sc.setLocalProperty(JobTrace.OpKey, tag)
    val startMs = System.currentTimeMillis()
    val s0 = now()
    val r =
      try Some(call)
      catch {
        case scala.util.control.NonFatal(e) =>
          if (timed) failed += 1
          errors += s"$tag: $e"
          None
      }
    val took = ms(s0)
    val endMs = System.currentTimeMillis()
    if (traced) sc.setLocalProperty(JobTrace.OpKey, null)
    r.foreach(check)
    if (timed) ops += Op(kind, tag, traced, took, startMs, endMs)
    took
  }

  private def runTurn(t: Turn, traced: Boolean, timed: Boolean, digesting: Boolean): Unit = {
    meter.on = traced
    var took = 0.0
    if (w.adds)
      took += op("add", t.index, traced, timed)(
        m.add(t.addText, infer = true, now = Some(t.now)))(r => ledger.record(added(r.events)))
    took += op("search", t.index, traced, timed)(
      m.search(t.query, k = K, diverse = t.diverse, now = Some(t.now + 1))) { page =>
      violations ++= Checks.search(page, K, ledger).map(v => s"turn ${t.index}: $v")
      if (digesting) digest.add(t.index, page)
      if (timed) fills += page.size.toDouble / K
    }
    took += op("stats", t.index, traced, timed)(m.stats())(s =>
        violations ++= Checks.stats(s, ledger).map(v => s"turn ${t.index}: $v"))
    meter.on = false
    if (timed) turnMs += traced -> took
  }

  private def turn(i: Int): Turn = gen.turn(i, w.diverseEvery)

  private val warmS = {
    val s0 = now()
    (-w.warmupTurns until 0).foreach(i => runTurn(turn(i), traced = false, timed = false, digesting = true))
    now() - s0
  }

  // timed phase: a traced run interleaves untraced and traced turns, so
  // both kinds see the same store growth and JIT state
  if (trace) sc.addSparkListener(jobTrace)
  private val gcMs0 = gcMs()
  private val writes0 = store.writeVersion
  private val graphBumps0 = store.graphVersion
  private val witness = new Witness
  private val timedS = {
    val s0 = now()
    var i = 0
    var last = 0.0
    // a turn starts only when the previous one says it will end within
    // --seconds, once the workload's minimum is done. A traced run orders
    // its turns untraced, traced, traced, untraced (repeating), so that
    // the speed-up of a warming JVM does not bias the overhead estimate,
    // and runs at least one such block
    def done = i >= math.max(w.minTurns, if (trace) 4 else 1) &&
      (now() - s0 + last > seconds || now() - t0 > HardCapS)
    while (!done) {
      val t1 = now()
      runTurn(turn(i), traced = trace && (i % 4 == 1 || i % 4 == 2), timed = true,
        digesting = i == 0)
      last = now() - t1
      i += 1
    }
    now() - s0
  }
  private val (extCpu, selfCpuS) = witness.close()
  private val gcPerTurnMs = (gcMs() - gcMs0).toDouble / turnMs.size
  private val writesPerTurn = (store.writeVersion - writes0).toDouble / turnMs.size
  private val graphBumpsPerTurn = (store.graphVersion - graphBumps0).toDouble / turnMs.size
  // Spark's ContextCleaner frees checkpoint and broadcast state only after
  // a GC has cleared their references, so collect until the heap stops
  // shrinking and report the least seen
  private val heapLiveMb = {
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      mx.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Latencies of the untraced calls of one kind. */
  private def opMs(kind: String): Seq[Double] =
    ops.filter(o => o.kind == kind && !o.traced).map(_.ms).toSeq

  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Dist.median(xs)

  private def tailOf(xs: Seq[Double]): Any = Dist.tail(xs) match {
    case Some(t) => Map("value_ms" -> t.value, "percentile" -> t.percentile, "n" -> t.n)
    case None => Map("n" -> xs.size, "supported" -> false)
  }

  private def endToEnd: Seq[(String, (Double, String))] = {
    val turns = turnMs.filterNot(_._1).map(_._2).toSeq
    Seq(
      "setup_s" -> (sessionS + Dist.median(seedS) + warmS, "s"),
      "ingest_per_s" -> (w.memories / seedS.min, "1/s"),
      "turn_p50_ms" -> (p50(turns), "ms"),
      "turns_per_s" -> (turnMs.size / timedS, "1/s"),
      "search_p50_ms" -> (p50(opMs("search")), "ms"),
      "heap_live_mb" -> (heapLiveMb, "MB"))
  }

  private def perLayer: Seq[(String, (Double, String))] = {
    org.apache.spark.ListenerDrain(sc, 60000)
    val traced = ops.filter(_.traced).toSeq
    val nT = math.max(1, turnMs.count(_._1)).toDouble
    val jobsByOp = jobTrace.records.groupBy(_.op)
    def jobsOf(o: Op) = jobsByOp.getOrElse(o.tag, Nil)
    def perTurn(x: Double) = x / nT
    val recs = traced.flatMap(jobsOf)
    val modules = Attribution.Modules.flatMap { mod =>
      val js = recs.filter(_.module == mod)
      Seq(
        s"jobs.$mod" -> (perTurn(js.size), "count"),
        s"busy_ms.$mod" -> (perTurn(js.map(_.runMs.get).sum), "ms"),
        s"tasks.$mod" -> (perTurn(js.map(_.tasks.get).sum), "count"),
        s"shuffle_kb.$mod" -> (perTurn(js.map(_.shuffleBytes.get).sum / 1024.0), "KB"))
    }
    def jobUnionMs(o: Op): Double = Dist.unionLength(jobsOf(o).map(j =>
      (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs)))).toDouble
    val perKind = Seq("add", "search", "stats").flatMap { kind =>
      val os = traced.filter(_.kind == kind)
      def mean(f: Op => Double) = if (os.isEmpty) 0.0 else os.map(f).sum / os.size
      Seq(
        s"api.driver_ms.$kind" -> (mean(o => o.ms - jobUnionMs(o)), "ms"),
        s"spark.job_ms.$kind" -> (mean(o => jobsOf(o).map(j => j.endMs - j.startMs).sum.toDouble), "ms"),
        s"spark.sched_delay_ms.$kind" -> (mean(o => jobsOf(o).map(_.schedDelayMs.get).sum.toDouble), "ms"))
    }
    val spans = meter.tracer.spans
    def spanMs(name: String) = spans.filter(_.name == name).map(_.durationNanos).sum / 1e6
    val recomputes = spans.count(_.name == "memory.graph_metrics_recompute")
    val tracedSearches = traced.count(_.kind == "search")
    val wallMs = traced.map(_.ms).sum
    val jobsMs = traced.map(jobUnionMs).sum
    val extMs = meter.extNs / 1e6
    val storageMb = sc.getExecutorMemoryStatus.values.map { case (max, free) => max - free }.sum / 1048576.0
    val untracedP50 = p50(turnMs.filterNot(_._1).map(_._2).toSeq)
    modules ++ perKind ++ Seq(
      "spark.failed_tasks" -> (recs.map(_.failedTasks.get).sum.toDouble, "count"),
      "store.mutations" -> (writesPerTurn, "count"),
      "store.graph_bumps" -> (graphBumpsPerTurn, "count"),
      "store.memories_parts" -> (store.memories.rdd.getNumPartitions.toDouble, "count"),
      "store.edges_parts" -> (store.edges.rdd.getNumPartitions.toDouble, "count"),
      "spark.storage_mb" -> (storageMb, "MB"),
      "ext.embed_ms" -> (perTurn(meter.embedNs.get / 1e6), "ms"),
      "ext.texts_embedded" -> (perTurn(meter.textsEmbedded.get.toDouble), "count"),
      "ext.extract_ms" -> (perTurn(meter.extractNs.get / 1e6), "ms"),
      "ext.reconcile_ms" -> (perTurn(meter.reconcileNs.get / 1e6), "ms"),
      "ext.summarize_ms" -> (perTurn(meter.summarizeNs.get / 1e6), "ms"),
      "span.graph_recompute_ms" -> (perTurn(spanMs("memory.graph_metrics_recompute")), "ms"),
      "span.graph_recompute_n" -> (perTurn(recomputes.toDouble), "count"),
      "span.candidate_search_ms" -> (perTurn(spanMs("memory.candidate_search")), "ms"),
      "self_ms.api" -> (perTurn(wallMs - jobsMs - extMs), "ms"),
      "self_ms.ext" -> (perTurn(extMs), "ms"),
      "self_ms.jobs" -> (perTurn(jobsMs), "ms"),
      "search.fill_ratio" -> (Dist.mean(fills.toSeq), "ratio"),
      "recompute_per_search" -> (recomputes.toDouble / math.max(1, tracedSearches), "ratio"),
      "graph.nodes" -> (graft.agentbench.EngineAccess.graphNodes(m).toDouble, "count"),
      "jvm.gc_ms" -> (gcPerTurnMs, "ms"),
      "trace_overhead_pct" -> (if (untracedP50 == 0) 0.0
        else 100.0 * (p50(turnMs.filter(_._1).map(_._2).toSeq) / untracedP50 - 1.0), "%"))
  }

  def result(): Result = {
    val metrics = if (trace) perLayer else endToEnd
    val detail = Map(
      "workload" -> w.name, "seed" -> seed, "trace" -> trace,
      "digest" -> digest.hex,
      "turns" -> turnMs.size, "timed_s" -> timedS,
      "session_s" -> sessionS, "seed_s" -> seedS, "warmup_s" -> warmS,
      "add_p50_ms" -> p50(opMs("add")),
      "stats_p50_ms" -> p50(opMs("stats")),
      "tail" -> Map(
        "turn_ms" -> tailOf(turnMs.filterNot(_._1).map(_._2).toSeq),
        "search_ms" -> tailOf(opMs("search")),
        "add_ms" -> tailOf(opMs("add"))),
      "samples" -> Map("search" -> opMs("search").size, "add" -> opMs("add").size,
        "stats" -> opMs("stats").size),
      "error_rate" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted),
      "host" -> Map("nproc" -> cpus, "ext_cpu_frac" -> extCpu, "jvm_cpu_s" -> selfCpuS,
        "loaded" -> (extCpu > Witness.LoadedFraction)),
      "sites" -> jobTrace.records.groupBy(_.site).map { case (k, v) => k -> v.size }
        .toSeq.sortBy(-_._2).take(12).toMap,
      "violations" -> violations.take(20).toSeq,
      "errors" -> errors.take(20).toSeq)
    val res = Result(violations.isEmpty && attempted > 0, math.max(1L, attempted),
      failed, metrics, detail)
    spark.stop()
    res
  }
}
