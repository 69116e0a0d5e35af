package perfbench

import scala.collection.mutable

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One Spark job as the traced run saw it. `label` is the benchmark
  * operation that submitted it; `callSite` is the long call site (innermost
  * frame first) of the SQL execution the job belongs to, or of the job
  * itself outside SQL: broadcast and adaptive query-stage jobs are
  * submitted from pool threads whose own stacks do not reach the caller. */
final case class JobRec(id: Int, label: String, callSite: String,
    startMs: Long, var endMs: Long = -1L, var taskMs: Long = 0L,
    var shuffleWriteBytes: Long = 0L, var stages: Int = 0)

object Intervals {
  /** Length in seconds of the union of [start, end) millisecond intervals. */
  def seconds(xs: Iterable[(Long, Long)]): Double = {
    var total = 0L
    var cur = (Long.MinValue, Long.MinValue)
    for ((a, b) <- xs.toSeq.sortBy(_._1) if b > a) {
      if (a > cur._2) { total += cur._2 - cur._1; cur = (a, b) }
      else if (b > cur._2) cur = (cur._1, b)
    }
    (total + cur._2 - cur._1) / 1000.0
  }
}

/** The traced run's recorders: Spark jobs and their stage metrics, query
  * planning time per action, and whole-stage codegen compile time. Every
  * record carries the label of the benchmark operation that caused it, so
  * a layer's numbers are summed over the operations of that layer. */
final class Trace(spark: SparkSession) {
  private val LabelKey = "perfbench.label"
  @volatile private var label = ""
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val executionSite = mutable.HashMap.empty[Long, String]
  /** (label, start ms, end ms) of every benchmark operation */
  val ops = mutable.ArrayBuffer.empty[(String, Long, Long)]
  /** (label, seconds) per query-planning record and per codegen compile */
  val planning = mutable.ArrayBuffer.empty[(String, Double)]
  val compiles = mutable.ArrayBuffer.empty[(String, Double)]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val lbl = Option(e.properties).map(_.getProperty(LabelKey, "")).getOrElse("")
      val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(id => executionSite.get(id.toLong)).getOrElse(own)
      jobs(e.jobId) = JobRec(e.jobId, lbl, site, e.time)
      e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        synchronized(executionSite(x.executionId) = x.details)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      for (j <- stageJob.get(e.stageInfo.stageId); rec <- jobs.get(j)) {
        val m = e.stageInfo.taskMetrics
        rec.stages += 1
        if (m != null) {
          rec.taskMs += m.executorRunTime
          rec.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        }
      }
    }
  }

  private val seenQe = java.util.Collections.newSetFromMap(
    new java.util.WeakHashMap[QueryExecution, java.lang.Boolean]())
  private def plannedBy(qe: QueryExecution): Unit = {
    if (seenQe.add(qe)) {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      planning.synchronized(planning += ((label, ms / 1000.0)))
    }
  }
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plannedBy(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = plannedBy(qe)
  }

  // CodeGenerator logs "Code generated in <ms> ms" once per real compile
  // (cache hits do not log); only that logger is raised to INFO, and it
  // does not pass its records on to the console.
  private val CodegenLogger =
    "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
  private val appender = new AbstractAppender("perfbench-codegen", null, null,
      true, Property.EMPTY_ARRAY) {
    override def append(e: LogEvent): Unit = {
      val m = e.getMessage.getFormattedMessage
      if (m.startsWith("Code generated in ")) {
        val ms = m.stripPrefix("Code generated in ").stripSuffix(" ms").trim
        scala.util.Try(ms.toDouble).foreach(v =>
          compiles.synchronized(compiles += ((label, v / 1000.0))))
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    appender.start()
    cfg.addAppender(appender)
    val lc = new LoggerConfig(CodegenLogger, Level.INFO, false)
    lc.addAppender(appender, Level.INFO, null)
    cfg.addLogger(CodegenLogger, lc)
    ctx.updateLoggers()
  }

  /** Run `body` as the benchmark operation `lbl`; returns its wall time.
    * The listener bus is drained before the label changes, so late events
    * still land on the operation that caused them. */
  def op[T](lbl: String)(body: => T): (T, Double) = {
    label = lbl
    spark.sparkContext.setLocalProperty(LabelKey, lbl)
    val t0 = System.nanoTime()
    val ms0 = System.currentTimeMillis()
    try {
      val out = body
      (out, (System.nanoTime() - t0) / 1e9)
    } finally {
      ops.synchronized(ops += ((lbl, ms0, System.currentTimeMillis())))
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      spark.sparkContext.setLocalProperty(LabelKey, null)
      label = ""
    }
  }

  def jobsOf(p: String => Boolean): Seq[JobRec] = synchronized {
    jobs.values.filter(j => p(j.label)).toList
  }
  def planningOf(p: String => Boolean): Double =
    planning.synchronized(planning.filter(x => p(x._1)).map(_._2).sum)
  def compileOf(p: String => Boolean): Double =
    compiles.synchronized(compiles.filter(x => p(x._1)).map(_._2).sum)
}

/** Attribution of MetaProcess jobs to the layer function that caused
  * them. A job belongs to the innermost span function on its call site's
  * stack. When that is `MetaProcess.run` itself (the run loop triggers
  * the job on a frame another layer function built lazily), the source
  * statement at the triggering line names the function whose result is
  * being materialized, e.g. `TriplesEmitter.emit(b).localCheckpointClamped()`. */
final class Spans(srcRoot: String) {
  /** span name -> (object class, method) */
  val spans: Seq[(String, String, String)] = Seq(
    ("curation.Curator.curateFresh", "graft.curation.Curator$", "curateFresh"),
    ("curation.StoreCurator.curateWithStore", "graft.curation.StoreCurator$", "curateWithStore"),
    ("curation.MetaProcess.saveState", "graft.curation.MetaProcess$", "saveState"),
    ("rdf.StoreViews.fromTriples", "graft.rdf.StoreViews$", "fromTriples"),
    ("rdf.TriplesEmitter.emit", "graft.rdf.TriplesEmitter$", "emit"),
    ("rdf.Provenance.freshSnapshots", "graft.rdf.Provenance$", "freshSnapshots"),
    ("rdf.Provenance.upsert", "graft.rdf.Provenance$", "upsert"),
    ("rdf.Provenance.provTriples", "graft.rdf.Provenance$", "provTriples"),
    ("rdf.Serialization.writeJsonLd", "graft.rdf.Serialization$", "writeJsonLd"),
    ("rdf.SparqlUpdate.updateStrings", "graft.rdf.SparqlUpdate$", "updateStrings"),
    ("rdf.SparqlHttp.push", "graft.rdf.SparqlHttp$", "push"))
  val Root = "curation.MetaProcess.run"
  private val RootClass = "graft.curation.MetaProcess$"

  private val Frame = """^\s*(?:at\s+)?([\w$.]+)\.([\w$]+)\(([^:()]*)(?::(\d+))?\)""".r
  private def frames(site: String): Seq[(String, String, String, Int)] =
    site.split("\n").toSeq.flatMap { l =>
      Frame.findFirstMatchIn(l).map(m => (m.group(1), m.group(2), m.group(3),
        Option(m.group(4)).map(_.toInt).getOrElse(-1)))
    }
  private def isMethod(method: String, name: String): Boolean =
    method == name || method.contains("$" + name + "$")

  private val sourceCache = mutable.HashMap.empty[String, Array[String]]
  private def sourceLines(cls: String, file: String): Array[String] =
    sourceCache.getOrElseUpdate(cls + file, {
      val pkg = cls.split('.').dropRight(1).mkString("/")
      val f = new java.io.File(s"$srcRoot/$pkg/$file")
      if (f.isFile) scala.io.Source.fromFile(f, "UTF-8").getLines().toArray
      else Array.empty[String]
    })

  /** Span chain of one job, innermost first; empty when the job did not
    * run under MetaProcess.run. */
  def chain(site: String): Seq[String] = {
    val fs = frames(site)
    val named = fs.flatMap { case (cls, m, _, _) =>
      spans.collectFirst { case (n, c, meth) if cls == c && isMethod(m, meth) => n }
        .orElse(if (cls == RootClass && isMethod(m, "run")) Some(Root) else None)
    }.distinct
    if (!named.contains(Root)) return Seq.empty
    if (named.head != Root) return named
    // triggered by the run loop itself: read the triggering statement
    val byStatement = fs.find(_._1 == RootClass).flatMap { case (cls, _, file, line) =>
      val src = sourceLines(cls, file)
      if (line < 1 || line > src.length) None
      else {
        // widen to the start of the statement: a line that opens with
        // `.` continues the one above, as does one after `,` `(` or `=`
        var first = line - 1
        while (first > 0 && (src(first).trim.startsWith(".") ||
            Seq(",", "(", "=").exists(src(first - 1).trim.endsWith))) first -= 1
        val stmt = src.slice(first, line).mkString(" ")
        spans.map { case (n, _, meth) => (n, stmt.lastIndexOf(meth + "(")) }
          .filter(_._2 >= 0).sortBy(-_._2).headOption.map(_._1)
      }
    }
    byStatement.toSeq ++ named
  }
}
