package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.{ArtifactStore, GraftExtensions, GraftSession, SparkEntry}
import graft.ops.UrlCount
import graft.streaming.StreamingOps

/** JVM half of the benchmark: one process, one SparkSession on
  * `local[cores]`, one client issuing one operation at a time.
  *
  *   java ... perfbench.Main <spec.json>
  *   java ... perfbench.Main --catalog <out.json>
  *
  * The spec names the workload and its generated inputs; the process
  * writes raw timings, collected answers and (when traced) spans and
  * listener records to `spec.out`. Metrics and output checks are computed
  * from that file by run.py, never here.
  */
object Main {
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit =
    if (args.head == "--catalog") writeCatalog(args(1)) else run(args.head)

  /** The registered queries and their oracle SQL: the session population. */
  private def writeCatalog(path: String): Unit =
    json.writeValue(new File(path), Map("queries" -> SparkEntry.queries.keys.toSeq.sorted,
      "oracle_sql" -> SparkEntry.oracleSql))

  private def run(specPath: String): Unit = {
    val mainEpochMs = System.currentTimeMillis()
    val spec = json.readValue(new File(specPath), classOf[Map[String, Any]])
    def str(k: String): String = spec(k).toString
    val trace = spec.get("trace").contains(true)
    val cores = spec("cores").toString.toInt
    val workload = str("workload")
    val workDir = str("work_dir")
    Trace.enabled = trace
    val out = mutable.LinkedHashMap[String, Any]("workload" -> workload)

    // ---- set-up: session with graft.Bench's configuration, then warm-up
    val (spark, sessionS) = Trace.span("session", "setup")(buildSession(cores, trace))
    Trace.attach(spark.sparkContext)
    val fixtures = fixtureRoot(spark)
    val sfDir = new File(fixtures, str("fixture_scale")).getPath
    applyDerivedConf(spark, sfDir, cores)
    val queries = spec.get("queries").map(_.asInstanceOf[Seq[String]]).getOrElse(Nil)
    // warm-up, as graft.Bench warms up: the flagship query, then every
    // measured operation once on a small input (the url job on the corpus's
    // first two lines, each session query at the warm-up fixture scale), so
    // generated code is compiled before timing. Artifact stores are keyed by corpus,
    // so the measured scale still starts with empty stores.
    val (_, warmupS) = Trace.span("warmup", "setup") {
      SparkEntry.entry(spark).count()
      if (workload == "url") urlJob(spark, str("warmup_corpus"), s"$workDir/warmup")
      else {
        val warmDir = new File(fixtures, str("warmup_scale")).getPath
        queries.foreach(q => SparkEntry.queries(q)(spark, warmDir).count())
      }
    }
    val compilation = ManagementFactory.getCompilationMXBean
    out("main_epoch_ms") = mainEpochMs
    out("ready_epoch_ms") = System.currentTimeMillis()
    out("setup") = Map("session_s" -> sessionS, "warmup_s" -> warmupS,
      "jit_compile_ms" -> compilation.getTotalCompilationTime)
    out("fixtures") = Map("sf_dir" -> sfDir)
    out("system") = systemRecord(spark, cores)
    // ---- measured region
    val gc0 = gcTotals
    val sampler = if (trace) Some(new HeapSampler) else None
    val t0 = System.nanoTime()
    workload match {
      case "url" =>
        val seconds = spec("seconds").toString.toDouble
        val minIterations = spec("min_iterations").toString.toInt
        val iterations = mutable.ArrayBuffer[Map[String, Any]]()
        while (iterations.size < minIterations || (System.nanoTime() - t0) / 1e9 < seconds) {
          val i = iterations.size
          iterations += Trace.span(s"job-$i", "job")(urlJob(spark, str("corpus"), s"$workDir/job-$i"))._1
        }
        out("iterations") = iterations.toSeq
      case _ =>
        out("executions") = sessionPasses(spark, queries, 1 + spec("warm_passes").toString.toInt,
          sfDir, s"$workDir/results")
    }
    out("measured_s") = (System.nanoTime() - t0) / 1e9
    val gc1 = gcTotals
    out("gc") = Map("count" -> (gc1._1 - gc0._1), "pause_ms" -> (gc1._2 - gc0._2))
    sampler.foreach { s => out("heap_peak_bytes") = s.finish() }

    if (trace) {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      out("trace") = Map("spans" -> Trace.spanRecords, "jobs" -> Jobs.jobRecords,
        "stages" -> Jobs.stageRecords, "streams" -> StreamTrace.records)
    }
    out("retained_heap_bytes") = retainedHeap()
    if (trace && workload == "url") {
      // single-thread baseline of the count phase: same configuration,
      // same shuffle width, one core
      spark.stop()
      val one = buildSession(1, trace = false, shufflePartitions = cores)
      applyDerivedConf(one, sfDir, cores)
      Trace.enabled = false
      val ((nKeys, mass), s1) = Trace.span("count-local1", "phase")(countPhase(one, str("corpus")))
      out("count_local1") = Map("count_s" -> s1, "n_keys" -> nKeys, "mass" -> mass)
      one.stop()
    } else spark.stop()
    writeOut(str("out"), out)
  }

  // ---------------------------------------------------------------- job

  private def countPhase(spark: SparkSession, corpus: String): (Long, Long) = {
    val (df, _) = Trace.span("build", "build") {
      val input = spark.read.text(corpus).withColumnRenamed("value", "text")
      UrlCount.tokenCounts(input, "text").agg(count(lit(1)), sum(col("cnt")))
    }
    val r = execute(df).head
    (r.getLong(0), r.getLong(1))
  }

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds the process has used, over all its threads (collector and
    * JIT included). Time the host withholds from the VM is not counted. */
  private def cpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** The reference job: count -> top-100 -> JSON and text sinks of the
    * full count relation, timed per phase. */
  private def urlJob(spark: SparkSession, corpus: String, dir: String): Map[String, Any] = {
    val cpu0 = cpuS()
    val ((nKeys, mass), countS) = Trace.span("count", "phase")(countPhase(spark, corpus))
    val (top, topkS) = Trace.span("topk", "phase") {
      val (df, _) = Trace.span("build", "build") {
        UrlCount.topK(spark.read.text(corpus).withColumnRenamed("value", "text"), "text", 100)
      }
      execute(df).map(r => Seq(r.getString(0), r.getLong(1))).toSeq
    }
    val (_, sinkS) = Trace.span("sink", "phase") {
      val (counts, _) = Trace.span("build", "build") {
        UrlCount.tokenCounts(spark.read.text(corpus).withColumnRenamed("value", "text"), "text")
      }
      Trace.span("execute", "execute") {
        UrlCount.writeJsonSink(counts, s"$dir/json")
        UrlCount.writeTextSink(UrlCount.mergedLines(counts), s"$dir/text")
      }
    }
    Map("count_s" -> countS, "topk_s" -> topkS, "sink_s" -> sinkS,
      "job_s" -> (countS + topkS + sinkS), "cpu_s" -> (cpuS() - cpu0),
      "n_keys" -> nKeys, "mass" -> mass,
      "top" -> top, "json_dir" -> s"$dir/json", "text_dir" -> s"$dir/text")
  }

  /** Plan (traced runs force the physical plan first, so planning is its
    * own span) and collect. */
  private def execute(df: DataFrame): Array[Row] = {
    if (Trace.enabled) Trace.span("plan", "plan")(df.queryExecution.executedPlan)
    Trace.span("execute", "execute")(df.collect())._1
  }

  // ------------------------------------------------------------ session

  /** Passes over the session's queries, pass 1 with empty artifact stores
    * and the later ones warm. Each execution is the query function's call
    * (the build) and then collect(). Answers are written as parquet after
    * the passes, outside every timed region: the last pass's answer, and
    * any earlier answer that differs from it. */
  private def sessionPasses(spark: SparkSession, queries: Seq[String], passes: Int,
                            sfDir: String, resultsDir: String): Seq[Map[String, Any]] = {
    val executions = mutable.ArrayBuffer[Map[String, Any]]()
    val answers = mutable.Map[(String, Int), (Array[Row], org.apache.spark.sql.types.StructType)]()
    for (pass <- 1 to passes; q <- queries) {
      ArtifactStore.currentConsumer.set(q)
      val cpu0 = cpuS()
      var buildS = 0.0
      var rows = -1
      val (err, totalS) = Trace.span(s"pass$pass:$q", "query", q) {
        try {
          val (df, b) = Trace.span("build", "build")(SparkEntry.queries(q)(spark, sfDir))
          buildS = b
          val r = execute(df)
          answers((q, pass)) = (r, df.schema)
          rows = r.length
          ""
        } catch {
          case NonFatal(e) => Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        }
      }
      ArtifactStore.currentConsumer.remove()
      executions += Map("query" -> q, "pass" -> pass, "total_s" -> totalS,
        "cpu_s" -> (cpuS() - cpu0), "build_s" -> buildS, "rows" -> rows, "error" -> err)
    }
    Trace.span("answers", "check") {
      queries.foreach { q =>
        for (pass <- 1 to passes; (rows, schema) <- answers.get((q, pass))) {
          val same = pass < passes && answers.get((q, passes)).exists(_._1.sameElements(rows))
          val dir = s"$resultsDir/pass$pass/$q"
          if (!same)
            spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
              .write.mode("overwrite").parquet(dir)
        }
      }
    }
    answers.clear()
    executions.toSeq
  }

  // -------------------------------------------------------------- system

  /** graft.Bench's session: the same confs, set the same way. */
  private def buildSession(cores: Int, trace: Boolean,
                           shufflePartitions: Int = 0): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        (if (shufflePartitions > 0) shufflePartitions else cores).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.sql.files.openCostInBytes", (1024 * 1024).toString)
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.cleaner.periodicGC.interval", "30s")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    if (trace)
      b.config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTrace].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(spark)
    spark
  }

  /** The two confs graft.Bench derives from the fixture's events bytes:
    * the state-store provider and the streaming state-partition count. */
  private def applyDerivedConf(spark: SparkSession, sfDir: String, cores: Int): Unit = {
    val evDir = new File(s"$sfDir/events.parquet")
    val eventsBytes = Option(evDir.listFiles).map(_.filter(_.isFile).map(_.length).sum)
      .getOrElse(if (evDir.isFile) evDir.length else 0L)
    val master = spark.sparkContext.master
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      GraftSession.autoStateStoreProvider(eventsBytes,
        GraftSession.executorHeapBytesFor(master), GraftSession.numExecutorsFor(master)))
    spark.conf.set("spark.graft.streamStatePartitions",
      StreamingOps.sizeStatePartitions(eventsBytes, cores).toString)
  }

  /** The directory holding the program's fixture scales, found from the
    * files its flagship query reads. */
  private def fixtureRoot(spark: SparkSession): File = {
    val f = SparkEntry.entry(spark).inputFiles.head.stripPrefix("file:")
    var dir = new File(new java.net.URI("file://" + f).getPath)
    while (dir != null && dir.getName != "documents.parquet") dir = dir.getParentFile
    require(dir != null, s"cannot locate the fixture directory from $f")
    dir.getParentFile.getParentFile
  }

  private def systemRecord(spark: SparkSession, cores: Int): Map[String, Any] = {
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k.startsWith("spark.graft.")
    }.toSeq.sortBy(_._1).toMap
    Map("conf" -> conf, "master" -> spark.sparkContext.master, "cores" -> cores,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory,
      "jvm_flags" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq,
      "java_version" -> System.getProperty("java.version"),
      "spark_version" -> spark.version)
  }

  /** (collections, pause ms) summed over the stop-the-world collectors. */
  private def gcTotals: (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .filterNot(_.getName.contains("Concurrent"))
    (beans.map(_.getCollectionCount.max(0L)).sum, beans.map(_.getCollectionTime.max(0L)).sum)
  }

  /** Heap in use after a full collection. A live-object class histogram
    * forces a full stop-the-world collection even where System.gc() is
    * configured to start a concurrent cycle instead. */
  private def retainedHeap(): Long = {
    val server = ManagementFactory.getPlatformMBeanServer
    server.invoke(new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
      "gcClassHistogram", Array[AnyRef](Array.empty[String]),
      Array(classOf[Array[String]].getName))
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }

  /** Samples heap in use every 10 ms; `stop` returns the peak seen. */
  private final class HeapSampler extends Thread("perfbench-heap-sampler") {
    @volatile private var running = true
    @volatile private var peak = 0L
    setDaemon(true)
    start()
    override def run(): Unit = {
      val mem = ManagementFactory.getMemoryMXBean
      while (running) {
        peak = peak.max(mem.getHeapMemoryUsage.getUsed)
        Thread.sleep(10)
      }
    }
    def finish(): Long = { running = false; join(); peak }
  }

  private def writeOut(path: String, out: mutable.LinkedHashMap[String, Any]): Unit =
    json.writeValue(new File(path), out)
}
