package agentbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.ext._
import graft.trace.{RecordingTracer, Tracer}

/** Maps a Spark call site to the engine module whose code issued the
  * action: the first named module among the short call site
  * ("collect at GraphAlgorithms.scala:123") and then the frames of the long
  * call stack, so that an action issued by a shared helper (a checkpoint or
  * filter utility) is credited to the module that called the helper.
  */
object Attribution {
  val Modules: Seq[String] = Seq("MemoryManager", "GraphStore", "SearchOps",
    "GraphOps", "GraphAlgorithms", "ScoringOps", "other")
  private val Named = Modules.toSet - "other"
  private val Stem = """([A-Za-z0-9_$]+)\.scala:\d+""".r

  def module(callSite: String, stack: String = ""): String =
    (Stem.findAllMatchIn(callSite) ++ Stem.findAllMatchIn(stack))
      .map(_.group(1)).find(Named).getOrElse("other")
}

/** One Spark job of a traced op, with the task metrics of its stages. */
final class JobRecord(val op: String, val site: String, val module: String,
    val startMs: Long) {
  @volatile var endMs: Long = startMs
  val tasks = new AtomicLong
  val failedTasks = new AtomicLong
  val runMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val schedDelayMs = new AtomicLong
}

/** Listener that attributes every job carrying the [[JobTrace.OpKey]]
  * local property to that op and to the module named by its call site:
  * the SQL execution's description and call stack when the job runs under
  * one, else the job's own last stage's.
  */
final class JobTrace extends SparkListener {
  private val execSite = new ConcurrentHashMap[Long, (String, String)]()
  private val jobs = new ConcurrentHashMap[Int, JobRecord]()
  private val stageJob = new ConcurrentHashMap[Int, JobRecord]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execSite.put(s.executionId, (s.description, s.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(JobTrace.OpKey))).foreach { op =>
      val (site, stack) = Option(e.properties.getProperty("spark.sql.execution.id"))
        .flatMap(id => Option(execSite.get(id.toLong)))
        .getOrElse(e.stageInfos.sortBy(-_.stageId).headOption
          .map(st => (st.name, st.details)).getOrElse(("", "")))
      val rec = new JobRecord(op, site, Attribution.module(site, stack), e.time)
      jobs.put(e.jobId, rec)
      e.stageIds.foreach(stageJob.putIfAbsent(_, rec))
    }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { rec =>
      rec.tasks.incrementAndGet()
      if (!e.taskInfo.successful) rec.failedTasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        rec.runMs.addAndGet(m.executorRunTime)
        rec.shuffleBytes.addAndGet(
          m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
        // the Spark UI's scheduler-delay formula
        rec.schedDelayMs.addAndGet(math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime))
      }
    }

  def records: Seq[JobRecord] = jobs.values.asScala.toSeq
}

object JobTrace {
  /** Local property naming the op a job was submitted for. */
  val OpKey = "agentbench.op"
}

/** Tracer and trait wrappers that record only while [[on]] is set, so a
  * traced run can interleave traced and untraced turns on one manager.
  */
final class Meter {
  @volatile var on = false
  val tracer = new RecordingTracer
  val embedNs = new AtomicLong
  val textsEmbedded = new AtomicLong
  val extractNs = new AtomicLong
  val reconcileNs = new AtomicLong
  val summarizeNs = new AtomicLong

  def time[T](acc: AtomicLong)(f: => T): T =
    if (!on) f
    else {
      val t0 = System.nanoTime()
      try f finally acc.addAndGet(System.nanoTime() - t0)
    }

  def extNs: Long = embedNs.get + extractNs.get + reconcileNs.get + summarizeNs.get

  object Switch extends Tracer {
    override def span[T](name: String, attrs: Map[String, String])(f: => T): T =
      if (on) tracer.span(name, attrs)(f) else f
  }

  final class Embed(in: Embedder) extends Embedder {
    override def dimensions: Int = in.dimensions
    override def embed(texts: Seq[String]): Seq[Array[Float]] = time(embedNs) {
      if (on) textsEmbedded.addAndGet(texts.size)
      in.embed(texts)
    }
  }

  final class Extract(in: Extractor) extends Extractor {
    override def extract(text: String): Extraction = time(extractNs)(in.extract(text))
    override def extractFactsOnly(text: String): Seq[String] =
      time(extractNs)(in.extractFactsOnly(text))
    override def extractEntitiesOnly(
        text: String): (Seq[ExtractedEntity], Seq[ExtractedRelation]) =
      time(extractNs)(in.extractEntitiesOnly(text))
    override def extractQueryEntities(query: String): Seq[ExtractedEntity] =
      time(extractNs)(in.extractQueryEntities(query))
    override def annotateTemporal(facts: Seq[String]): Seq[TemporalAnnotation] =
      time(extractNs)(in.annotateTemporal(facts))
  }

  final class Reconcile(in: Reconciler) extends Reconciler {
    override def reconcile(facts: Seq[String], candidates: Seq[(Long, String)]): Seq[Decision] =
      time(reconcileNs)(in.reconcile(facts, candidates))
    override def reconcileRelations(newRelations: Seq[ExtractedRelation],
        existing: Seq[ExtractedRelation]): Seq[ExtractedRelation] =
      time(reconcileNs)(in.reconcileRelations(newRelations, existing))
  }

  final class Summarize(in: Summarizer) extends Summarizer {
    override def summarize(texts: Seq[String]): Seq[String] =
      time(summarizeNs)(in.summarize(texts))
    override def describeCommunity(memberNames: Seq[String],
        relations: Seq[String]): (String, String) =
      time(summarizeNs)(in.describeCommunity(memberNames, relations))
  }
}
