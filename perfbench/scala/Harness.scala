package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SparkEntry
import graft.curation.MetaProcess
import graft.operators.DocumentPipeline
import graft.rdf.Checkers

/** JVM side of the benchmark: runs one workload through the program's
  * public entry points and writes the raw measurements, the correctness
  * checks and (when traced) the per-layer numbers to a JSON file.
  *
  *   perfbench.Harness workload=queue|suite seconds=N trace=0|1 threads=N
  *       work=DIR src=DIR out=FILE [queue: fresh=CSV batches=CSV,CSV resubmit=CSV]
  *       [suite: tables=DIR dump=DIR seed=N]
  */
object Harness {
  private val result = mutable.LinkedHashMap.empty[String, Any]
  private val errors = mutable.ArrayBuffer.empty[String]

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val threads = args("threads").toInt
    val work = args("work")
    val t0 = System.nanoTime()
    val builder = SparkSession.builder()
      .master(s"local[$threads]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
    // the suite reads the tables as Bench and Verify do
    if (args("workload") == "suite")
      builder.config("spark.sql.legacy.parquet.nanosAsLong", "true")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = if (args("trace") == "1") {
      val t = new Trace(spark); t.start(); Some(t)
    } else None
    try {
      args("workload") match {
        case "queue" => Queue(spark, args, trace, t0).run()
        case "suite" => Suite(spark, args, trace, t0).run()
      }
    } catch {
      case e: Throwable =>
        errors += s"harness: $e"
        e.printStackTrace()
    } finally {
      result("peak_rss_mb") = peakRssMb
      result("heap_max_bytes") = Runtime.getRuntime.maxMemory
      result("errors") = errors.toList
      java.nio.file.Files.writeString(java.nio.file.Paths.get(args("out")),
        Json.render(result))
      spark.stop()
    }
  }

  private def peakRssMb: Double = Try {
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(-1.0)

  private def op[T](trace: Option[Trace], label: String)(body: => T): (Try[T], Double) =
    trace match {
      case Some(t) =>
        val (r, s) = t.op(label)(Try(body))
        (r, s)
      case None =>
        val t0 = System.nanoTime()
        val r = Try(body)
        (r, (System.nanoTime() - t0) / 1e9)
    }

  private def fail(what: String, e: Throwable): Unit = {
    errors += s"$what: ${e.toString.take(500)}"
    e.printStackTrace()
  }

  private def dirBytes(path: String): Long = {
    val root = new java.io.File(path)
    if (!root.exists()) 0L
    else java.nio.file.Files.walk(root.toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => java.nio.file.Files.size(p)).sum
  }

  /** Span metrics of one leg, per batch: wall (time covered by the
    * span's jobs; the whole call for MetaProcess.run), self (wall not
    * covered by child-span jobs), task time and shuffle bytes. Jobs of one
    * span can overlap, so times are lengths of interval unions. */
  private def legSpans(trace: Trace, spans: Spans, leg: String,
      legLabel: String => Boolean, names: Seq[String],
      batches: Int): Map[String, Double] = {
    val jobs = trace.jobsOf(legLabel).map(j => (j, spans.chain(j.callSite)))
      .filter(_._2.nonEmpty)
    val calls = trace.ops.filter(o => legLabel(o._1)).map(o => (o._2, o._3))
    def union(js: Seq[JobRec]) = Intervals.seconds(js.map(j => (j.startMs, j.endMs)))
    val out = mutable.LinkedHashMap.empty[String, Double]
    val n = math.max(batches, 1).toDouble
    for (name <- names) {
      val in = jobs.filter(_._2.contains(name)).map(_._1)
      val children = jobs.filter(j => j._2.contains(name) && j._2.head != name).map(_._1)
      val wall = if (name == spans.Root) Intervals.seconds(calls) else union(in)
      out(s"$leg.$name.wall_s") = wall / n
      out(s"$leg.$name.self_s") = (wall - union(children)) / n
      out(s"$leg.$name.task_s") = in.map(_.taskMs).sum / 1000.0 / n
      out(s"$leg.$name.shuffle_write_bytes") = in.map(_.shuffleWriteBytes).sum / n
    }
    out.toMap
  }

  val FreshSpans: Seq[String] = Seq("curation.MetaProcess.run",
    "curation.Curator.curateFresh", "rdf.TriplesEmitter.emit",
    "rdf.Provenance.freshSnapshots", "rdf.Provenance.provTriples",
    "rdf.Serialization.writeJsonLd", "rdf.SparqlUpdate.updateStrings",
    "rdf.SparqlHttp.push", "curation.MetaProcess.saveState")
  val UpdateSpans: Seq[String] = Seq("curation.MetaProcess.run",
    "rdf.StoreViews.fromTriples", "curation.StoreCurator.curateWithStore",
    "rdf.TriplesEmitter.emit", "rdf.Provenance.upsert",
    "rdf.Provenance.provTriples", "rdf.Serialization.writeJsonLd",
    "rdf.SparqlUpdate.updateStrings", "rdf.SparqlHttp.push",
    "curation.MetaProcess.saveState")
  val Modules: Seq[String] = Seq("RelationalQueries", "TextQueries",
    "TextAnalysis", "Dedup", "Similarity", "DocumentPipeline")

  /** Operator module of a registered query (IvfIndex counts as Similarity,
    * q60's sources.CrossrefMeta as TextQueries). */
  def moduleOf(query: String): String = {
    val n = query.drop(1).takeWhile(_.isDigit).toInt
    if (n <= 10) "RelationalQueries"
    else if (n <= 22 || n == 60) "TextQueries"
    else if (Set(35, 43, 56)(n)) "Similarity"
    else if (Set(30, 31, 32, 33, 34, 42, 45, 48, 50, 51, 52, 57, 61)(n)) "Dedup"
    else "TextAnalysis"
  }

  private def zeros(names: Iterable[String]): Map[String, Double] =
    names.map(_ -> 0.0).toMap

  def queueLayerNames: Seq[String] =
    (FreshSpans.map("fresh." + _) ++ UpdateSpans.map("update." + _)).flatMap { s =>
      Seq("wall_s", "self_s", "task_s", "shuffle_write_bytes").map(s + "." + _)
    } ++ Seq("update.store_bytes_written", "sink.push.posts",
      "sink.push.retries", "sink.push.bytes")
  def suiteLayerNames: Seq[String] =
    Modules.flatMap(m => Seq("wall_s", "plan_s", "codegen_s", "task_s",
      "shuffle_write_bytes").map(s"operators.$m." + _)) ++
      Seq("construct_s", "plan_s", "codegen_compile_s", "exec_s", "jobs",
        "stages").map("query." + _)

  /** MetaProcess queue: a fresh CSV into the empty store, enrichment
    * batches one file at a time until the measuring time is spent, then a
    * re-submission of the first enrichment batch under a new name. */
  final case class Queue(spark: SparkSession, args: Map[String, String],
      trace: Option[Trace], t0: Long) {
    def run(): Unit = {
      val work = args("work")
      val threads = args("threads").toInt
      val seconds = args("seconds").toDouble
      // the data and provenance endpoints share nproc server threads
      val pool = java.util.concurrent.Executors.newFixedThreadPool(threads,
        (r: Runnable) => { val t = new Thread(r, "perfbench-stub"); t.setDaemon(true); t })
      val data = new Stub(pool)
      val prov = new Stub(pool)
      val stateDir = s"$work/state"
      val sinks = Some(MetaProcess.Sinks(rdfDir = Some(s"$work/rdf"),
        updatesDir = Some(s"$work/updates"), endpoint = Some(data.endpoint),
        provEndpoint = Some(prov.endpoint)))
      def at(i: Int): String = java.time.Instant.parse("2026-01-01T00:00:00Z")
        .plusSeconds(86400L * i).toString
      result("setup_jvm_s") = (System.nanoTime() - t0) / 1e9
      try {
        val fresh = args("fresh")
        val batches = args("batches").split(",").toSeq
        var st = MetaProcess.Empty
        def step(label: String, file: String, i: Int): (Boolean, Double) = {
          data.newBatch(); prov.newBatch()
          val (r, s) = op(trace, label) {
            MetaProcess.run(spark, Seq(file), at(i), st,
              persistTo = Some(stateDir), sinks = sinks)
          }
          r match {
            case Success(next) => st = next; (true, s)
            case Failure(e) => fail(s"$label ${new java.io.File(file).getName}", e); (false, s)
          }
        }
        val tStart = System.nanoTime()
        val (freshOk, freshS) = step("fresh", fresh, 0)
        val afterFresh = st
        val updates = mutable.ArrayBuffer.empty[(String, Boolean, Double)]
        val storeBytes = mutable.ArrayBuffer.empty[Long]
        var afterFirst = st
        var i = 0
        while (freshOk && i < batches.size &&
            (i == 0 || (System.nanoTime() - tStart) / 1e9 < seconds)) {
          val (ok, s) = step(s"update:$i", batches(i), i + 1)
          updates += ((batches(i), ok, s))
          storeBytes += dirBytes(stateDir)
          if (i == 0) afterFirst = st
          i += 1
        }
        val beforeResubmit = st
        if (freshOk) {
          val (ok, s) = step(s"update:$i", args("resubmit"), i + 1)
          updates += ((args("resubmit"), ok, s))
          storeBytes += dirBytes(stateDir)
        }
        val timedS = (System.nanoTime() - tStart) / 1e9
        result("timed_s") = timedS
        result("fresh") = Map("s" -> freshS, "ok" -> freshOk)
        result("updates") = updates.map { case (f, ok, s) =>
          Map("file" -> new java.io.File(f).getName, "ok" -> ok, "s" -> s) }
        val posts = data.posts.get + prov.posts.get
        val retries = data.retries.get + prov.retries.get
        val pushBytes = data.bytes.get + prov.bytes.get
        val violations = data.barrierViolations.get + prov.barrierViolations.get
        result("push") = Map("posts" -> posts, "retries" -> retries,
          "bytes" -> pushBytes, "barrier_violations" -> violations)

        // ---- correctness, outside the timed region
        val tCheck = System.nanoTime()
        val checks = mutable.LinkedHashMap.empty[String, Any]
        if (freshOk && st.triples.nonEmpty) {
          val (t, p) = (st.triples.get, st.prov.get)
          checks("store_triples") = t.count()
          checks("missing_provenance") = Checkers.missingProvenance(t, p).count()
          checks("open_snapshot_violation") = Checkers.openSnapshotInvariant(p).count()
          checks("invalid_datatypes") = Checkers.invalidDatatypes(t).count()
          checks("misplaced_editor_ars") = Checkers.misplacedEditorArs(t).count()
          def diff(a: Option[DataFrame], b: Option[DataFrame]): Long =
            a.get.exceptAll(b.get).count() + b.get.exceptAll(a.get).count()
          checks("resubmit_changed_triples") = diff(beforeResubmit.triples, st.triples)
          checks("resubmit_changed_prov") = diff(beforeResubmit.prov, st.prov)
          checks("first_batch_changed_triples") = diff(afterFresh.triples, afterFirst.triples)
        }
        result("checks") = checks
        result("check_s") = (System.nanoTime() - tCheck) / 1e9
        val failures = mutable.ArrayBuffer.empty[String]
        if (!freshOk) failures += "fresh leg failed"
        if (updates.exists(!_._2)) failures += "an update batch failed"
        for (k <- Seq("missing_provenance", "open_snapshot_violation",
            "invalid_datatypes", "misplaced_editor_ars",
            "resubmit_changed_triples", "resubmit_changed_prov"))
          if (checks.get(k).exists(_ != 0L)) failures += s"$k = ${checks(k)}"
        if (checks.get("first_batch_changed_triples").contains(0L))
          failures += "the first enrichment batch changed nothing"
        if (checks.get("store_triples").forall(_ == 0L)) failures += "empty store"
        if (retries != 0L) failures += "push retries at a healthy endpoint"
        if (violations != 0L) failures += "DELETE after INSERT within a batch"
        result("check_failures") = failures.toList

        trace.foreach { tr =>
          val spans = new Spans(args("src"))
          val layers = mutable.LinkedHashMap.empty[String, Double]
          layers ++= zeros(queueLayerNames ++ suiteLayerNames)
          layers ++= legSpans(tr, spans, "fresh", _ == "fresh", FreshSpans, 1)
          layers ++= legSpans(tr, spans, "update", _.startsWith("update:"),
            UpdateSpans, updates.size)
          layers("update.store_bytes_written") =
            if (storeBytes.isEmpty) 0.0 else storeBytes.sum.toDouble / storeBytes.size
          layers("sink.push.posts") = posts.toDouble
          layers("sink.push.retries") = retries.toDouble
          layers("sink.push.bytes") = pushBytes.toDouble
          layers("trace.timed_s") = timedS
          result("layers") = layers
        }
      } finally {
        data.stop(); prov.stop()
        pool.shutdownNow()
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS)
      }
    }
  }

  /** Every SparkEntry query once per pass, in a seeded order, until the
    * measuring time is spent (at least one pass), then three runs of
    * DocumentPipeline.curate. Storage is cleared before each operation,
    * so no operation reads another's cached or checkpointed frames. */
  final case class Suite(spark: SparkSession, args: Map[String, String],
      trace: Option[Trace], t0: Long) {
    private def clearStorage(): Unit = {
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }

    def run(): Unit = {
      val dir = args("tables")
      val seconds = args("seconds").toDouble
      val all = SparkEntry.queries
      // session warm-up outside the timed region: table footers and one
      // cheap query, so JIT and codegen start-up do not land on whichever
      // query the seed puts first
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
        .foreach(t => graft.Tables.table(spark, dir, t).count())
      all("q02_filter_project")(spark, dir).collect()
      clearStorage()
      result("setup_jvm_s") = (System.nanoTime() - t0) / 1e9

      val order = new scala.util.Random(args("seed").toLong)
        .shuffle(all.keys.toSeq.sorted)
      val runs = mutable.ArrayBuffer.empty[Map[String, Any]]
      val firstRows = mutable.LinkedHashMap.empty[String, (Array[Row], StructType)]
      val tStart = System.nanoTime()
      var pass = 0
      while (pass == 0 || (System.nanoTime() - tStart) / 1e9 < seconds) {
        for (name <- order) {
          clearStorage()
          var c = 0.0; var p = 0.0; var x = 0.0
          val (r, wall) = op(trace, s"q:$name") {
            val a = System.nanoTime()
            val df = all(name)(spark, dir)
            val b = System.nanoTime()
            df.queryExecution.executedPlan
            val d = System.nanoTime()
            val rows = df.collect()
            val e = System.nanoTime()
            c = (b - a) / 1e9; p = (d - b) / 1e9; x = (e - d) / 1e9
            (rows, df.schema)
          }
          r match {
            case Success(rs) if pass == 0 => firstRows(name) = rs
            case Failure(e) => fail(s"query $name", e)
            case _ =>
          }
          runs += Map("name" -> name, "pass" -> pass, "s" -> wall,
            "construct_s" -> c, "plan_s" -> p, "exec_s" -> x,
            "rows" -> r.map(_._1.length.toLong).getOrElse(-1L), "ok" -> r.isSuccess)
        }
        pass += 1
      }
      val pipeline = (0 until 3).map { i =>
        clearStorage()
        val (r, s) = op(trace, s"pipeline:$i") {
          DocumentPipeline.curate(spark, dir).collect().length
        }
        r.failed.foreach(fail("DocumentPipeline.curate", _))
        (r, s)
      }
      val timedS = (System.nanoTime() - tStart) / 1e9
      result("timed_s") = timedS
      result("passes") = pass
      result("queries") = runs.toList
      result("pipeline") = pipeline.map { case (r, s) =>
        Map("s" -> s, "ok" -> r.isSuccess, "rows" -> r.getOrElse(-1)) }

      // ---- correctness, outside the timed region: oracle-gated results
      // go to parquet for the DuckDB compare, approximate ones must be
      // non-empty
      clearStorage()
      val tCheck = System.nanoTime()
      val dump = args("dump")
      val oracle = SparkEntry.oracleSql
      val failures = mutable.ArrayBuffer.empty[String]
      for ((name, (rows, schema)) <- firstRows) {
        if (oracle.contains(name))
          spark.createDataFrame(rows.toList.asJava, schema)
            .write.mode("overwrite").parquet(s"$dump/$name")
        else if (rows.isEmpty) failures += s"approximate query $name returned no rows"
      }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dump/oracle_sql.json"),
        Json.render(oracle.filter(kv => all.contains(kv._1))))
      if (pipeline.exists(p => p._1.isFailure || p._1.get == 0))
        failures += "DocumentPipeline.curate failed or returned no rows"
      result("check_s") = (System.nanoTime() - tCheck) / 1e9
      result("n_queries") = all.size
      result("n_oracle") = oracle.keySet.count(all.contains)
      result("check_failures") = failures.toList

      trace.foreach { tr =>
        val layers = mutable.LinkedHashMap.empty[String, Double]
        layers ++= zeros(queueLayerNames ++ suiteLayerNames)
        val passes = pass.toDouble
        def isQuery(l: String) = l.startsWith("q:")
        def moduleLabel(m: String)(l: String) =
          if (m == "DocumentPipeline") l.startsWith("pipeline:")
          else isQuery(l) && moduleOf(l.drop(2)) == m
        for (m <- Modules) {
          val per = if (m == "DocumentPipeline") pipeline.size.toDouble else passes
          val walls = if (m == "DocumentPipeline") pipeline.map(_._2).sum
            else runs.filter(r => moduleOf(r("name").toString) == m)
              .map(_("s").asInstanceOf[Double]).sum
          val jobs = tr.jobsOf(moduleLabel(m))
          layers(s"operators.$m.wall_s") = walls / per
          layers(s"operators.$m.plan_s") = tr.planningOf(moduleLabel(m)) / per
          layers(s"operators.$m.codegen_s") = tr.compileOf(moduleLabel(m)) / per
          layers(s"operators.$m.task_s") = jobs.map(_.taskMs).sum / 1000.0 / per
          layers(s"operators.$m.shuffle_write_bytes") =
            jobs.map(_.shuffleWriteBytes).sum / per
        }
        def sumOf(k: String) = runs.map(_(k).asInstanceOf[Double]).sum / passes
        val qJobs = tr.jobsOf(isQuery)
        layers("query.construct_s") = sumOf("construct_s")
        layers("query.plan_s") = tr.planningOf(isQuery) / passes
        layers("query.codegen_compile_s") = tr.compileOf(isQuery) / passes
        layers("query.exec_s") = sumOf("exec_s")
        layers("query.jobs") = qJobs.size / passes
        layers("query.stages") = qJobs.map(_.stages).sum / passes
        layers("trace.timed_s") = timedS
        result("layers") = layers
      }
    }
  }
}
