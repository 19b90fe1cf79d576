package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import graft.core.{PipelineContext, PipelineRunner}
import graft.pipeline.PipelineBuilder
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery
import scala.jdk.CollectionConverters._

/** JVM side of the pipeline benchmark. Reads a spec written by run.py,
 *  runs warm-up and timed executions of the workload's pipelines through
 *  PipelineBuilder.fromFile -> PipelineRunner.run, and writes raw timings
 *  (plus spans and Spark counts for traced executions) as JSON. All
 *  statistics and output checks are computed by run.py from outside.
 *
 *  Usage: Harness <spec.json> */
object Harness {
  private val mapper = new ObjectMapper()

  final case class PipelineSpec(name: String, file: String, vars: Map[String, String],
      metrics: Boolean)

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(new java.io.File(args(0)))
    val work = spec.get("work").asText()
    System.setProperty("derby.system.home", s"$work/derby")
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val result = new java.util.LinkedHashMap[String, Any]()
    try {
      val pipelines = spec.get("pipelines").elements().asScala.map { p =>
        PipelineSpec(p.get("name").asText(), p.get("file").asText(),
          p.get("vars").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap,
          p.path("metrics").asBoolean(false))
      }.toSeq
      val runs = new Runs(spark, spec, pipelines, result)
      spec.get("mode").asText() match {
        case "batch" => runs.batch()
        case "stream" => runs.stream()
      }
      Option(spec.get("cdc_ref")).foreach(c => CdcReference.write(spark,
        c.get("docs").asText(), c.get("out").asText()))
    } finally {
      result.put("vmhwm_kb", vmHwmKb())
      mapper.writerWithDefaultPrettyPrinter().writeValue(
        new java.io.File(spec.get("result").asText()), toJava(result))
      spark.stop()
    }
  }

  /** Peak resident set of this process, from /proc/self/status. */
  def vmHwmKb(): Long = scala.io.Source.fromFile("/proc/self/status").getLines()
    .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(-1L)

  def toJava(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, Any]()
      m.asScala.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case m: scala.collection.Map[_, _] =>
      val o = new java.util.LinkedHashMap[String, Any]()
      m.foreach { case (k, x) => o.put(k.toString, toJava(x)) }
      o
    case s: scala.collection.Iterable[_] => s.map(toJava).toSeq.asJava
    case other => other
  }

  private class Runs(spark: SparkSession, spec: JsonNode, pipelines: Seq[PipelineSpec],
      result: java.util.LinkedHashMap[String, Any]) {
    private implicit val session: SparkSession = spark
    private val sc = spark.sparkContext
    private val seconds = spec.get("seconds").asDouble()
    private val trace = spec.get("trace").asBoolean()
    private val outRoot = spec.get("out_root").asText()
    private val executions = new java.util.ArrayList[Any]()
    result.put("executions", executions)

    /** Build and run every pipeline once; out_dir is per execution. */
    private def execute(tag: String, tracer: Option[Tracer]): Map[String, Any] = {
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      pipelines.foreach { p =>
        val out = s"$outRoot/$tag/${p.name}"
        buildAndRun(p, p.vars + ("out_dir" -> out), tracer, PipelineContext(
          metricsEnabled = p.metrics, metricsUri = if (p.metrics) Some(s"$out/_metrics") else None))
      }
      Map("tag" -> tag, "start_ms" -> start, "wall_ns" -> (System.nanoTime() - t0), "t0_ns" -> t0)
    }

    /** PipelineBuilder.fromFile then PipelineRunner.run; traced, each is a
     *  span and every actor is wrapped. */
    private def buildAndRun(p: PipelineSpec, vars: Map[String, String], tracer: Option[Tracer],
        ctx: PipelineContext): Unit = tracer match {
      case None => new PipelineRunner(ctx).run(PipelineBuilder.fromFile(p.file, vars))
      case Some(t) =>
        val built = t.span(s"${p.name}.build", "graft.pipeline.PipelineBuilder")(
          PipelineBuilder.fromFile(p.file, vars))
        t.span(s"${p.name}.run", "graft.core.PipelineRunner")(
          new PipelineRunner(ctx).run(t.wrap(built)))
    }

    /** One execution, traced or not; failures are recorded, not thrown. */
    private def measured(tag: String, traced: Boolean)(body: Option[Tracer] => Map[String, Any])
        : Map[String, Any] = {
      val tracer = if (traced) Some(new Tracer(sc)) else None
      val listener = if (traced) Some(new CountingListener) else None
      val progress = if (traced) Some(new ProgressListener) else None
      listener.foreach(sc.addSparkListener)
      progress.foreach(spark.streams.addListener)
      val rec = try body(tracer) catch {
        case e: Throwable =>
          e.printStackTrace()
          Map("tag" -> tag, "start_ms" -> System.currentTimeMillis(), "wall_ns" -> 0L,
            "error" -> s"${e.getClass.getName}: ${e.getMessage}")
      }
      val traceRec = (tracer, listener, progress) match {
        case (Some(t), Some(l), Some(pl)) =>
          PerfbenchBus.drain(sc)
          sc.removeSparkListener(l)
          spark.streams.removeListener(pl)
          Map("traced" -> true, "trace" -> traceJson(t, l, pl, rec))
        case _ => Map("traced" -> false)
      }
      val out = rec ++ traceRec
      executions.add(toJava(out))
      out
    }

    private def traceJson(t: Tracer, l: CountingListener, pl: ProgressListener,
        rec: Map[String, Any]): Map[String, Any] = l.synchronized {
      val t0 = rec.getOrElse("t0_ns", 0L).asInstanceOf[Long]
      val start = rec("start_ms").asInstanceOf[Long]
      // span times as epoch ms, on the same clock as Spark's task times
      def ms(ns: Long): Double = start + (ns - t0) / 1e6
      Map(
        "spans" -> t.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "cls" -> s.cls, "start_ms" -> ms(s.startNs), "end_ms" -> ms(s.endNs))),
        "jobs" -> l.jobs.map(j => Map("id" -> j.id, "span" -> j.span)),
        "tasks" -> l.tasks.map(k => Map("stage" -> k.stage, "span" -> k.span,
          "launch_ms" -> k.launchMs, "finish_ms" -> k.finishMs, "run_ms" -> k.runMs,
          "gc_ms" -> k.gcMs, "shuffle_write" -> k.shuffleWrite, "shuffle_read" -> k.shuffleRead,
          "spill" -> k.spill, "input_bytes" -> k.inputBytes, "output_bytes" -> k.outputBytes,
          "failed" -> k.failed)),
        "persist_events" -> l.cachedRdds.size,
        "cached_bytes_peak" -> l.cachedBytesPeak,
        "progress" -> pl.synchronized(pl.progress.map(p => mapper.readTree(p)).toSeq))
    }

    def batch(): Unit = {
      val warmup = spec.get("warmup").asInt()
      val warmMs = (0 until warmup).map { i =>
        val t0 = System.nanoTime()
        execute(s"warm$i", None)
        (System.nanoTime() - t0) / 1e6
      }
      result.put("warmup_ms", toJava(warmMs))
      result.put("first_exec_ms", System.currentTimeMillis())
      // the window closes after `seconds`, at least minExecs executions;
      // a traced run alternates untraced and traced executions
      val minExecs = spec.get("min_execs").asInt()
      val t0 = System.nanoTime()
      var k = 0
      while (k < minExecs || (System.nanoTime() - t0) / 1e9 < seconds) {
        val traced = trace && k % 2 == 1
        measured(s"exec$k", traced)(tr => execute(s"exec$k", tr))
        k += 1
      }
    }

    /** Streaming: each execution starts the query on an empty watched
     *  directory, announces READY on stdout (run.py then writes the files on
     *  its schedule), waits until every expected row was processed, stops. */
    def stream(): Unit = {
      val st = spec.get("stream")
      def streamExec(tag: String, inDir: String, rows: Long, tracer: Option[Tracer])
          : Map[String, Any] = {
        val p = pipelines.head
        val vars = p.vars ++ Map("in_dir" -> inDir, "out_dir" -> s"$outRoot/$tag",
          "ckpt_dir" -> s"$outRoot/$tag/_checkpoint")
        val start = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val before = spark.streams.active.map(_.id).toSet
        buildAndRun(p, vars, tracer, PipelineContext())
        val q = spark.streams.active.find(x => !before.contains(x.id))
          .getOrElse(throw new IllegalStateException("no streaming query started"))
        println(s"READY $tag")
        Console.out.flush()
        val drained = awaitRows(q, rows, timeoutMs = (seconds * 1000).toLong + 60000L)
        q.stop()
        if (!drained) throw new IllegalStateException(s"$tag: stream did not drain $rows rows")
        Map("tag" -> tag, "start_ms" -> start, "wall_ns" -> (System.nanoTime() - t0),
          "t0_ns" -> t0, "ckpt" -> s"$outRoot/$tag/_checkpoint")
      }
      val warmMs = st.get("warm").elements().asScala.zipWithIndex.map { case (w, i) =>
        val t0 = System.nanoTime()
        streamExec(s"warm$i", w.get("in_dir").asText(), w.get("rows").asLong(), None)
        (System.nanoTime() - t0) / 1e6
      }.toSeq
      result.put("warmup_ms", toJava(warmMs))
      result.put("first_exec_ms", System.currentTimeMillis())
      st.get("timed").elements().asScala.zipWithIndex.foreach { case (x, k) =>
        val tag = s"exec$k"
        measured(tag, x.get("traced").asBoolean())(tr =>
          streamExec(tag, x.get("in_dir").asText(), x.get("rows").asLong(), tr))
      }
    }

    private def awaitRows(q: StreamingQuery, rows: Long, timeoutMs: Long): Boolean = {
      val deadline = System.currentTimeMillis() + timeoutMs
      def seen = q.recentProgress.map(_.numInputRows).sum
      while (seen < rows && q.isActive && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      seen >= rows
    }
  }
}

/** The library-path reference for the corpus workload's `cdc_clean` job:
 *  the same planted corpus, cleaned by graft.ml.Dedup.cdcClean directly. */
object CdcReference {
  def write(spark: SparkSession, docs: String, out: String): Unit = {
    spark.read.parquet(docs).createOrReplaceTempView("perfbench_documents")
    val planted = spark.sql(
      """SELECT doc_id, text FROM perfbench_documents
        |UNION ALL
        |SELECT doc_id + 400000 AS doc_id,
        |       substr(lower(regexp_replace(text, '\\s+', ' ')), 8) AS text
        |FROM perfbench_documents WHERE doc_id % 11 = 0""".stripMargin)
    graft.ml.Dedup.cdcClean(planted, "text", "doc_id").write.mode("overwrite").parquet(out)
  }
}
