package perfbench

import java.io.{BufferedWriter, FileWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{DataSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import graft.model.Schemas
import graft.ops.{Model, Q}
import graft.streaming.{MaPipeline, StockTick, V1StateProcessor}

/** The JVM side of the benchmark. It drives the program only through its
  * public functions (`MaPipeline`, `V1StateProcessor`, `Schemas`, the
  * `graft.ops` query registry) and observes Spark from outside: a
  * StreamingQueryListener for trigger progress, a SparkListener for task
  * metrics and the executed plans for plan facts. `run.py` starts it,
  * feeds it ticks through the generator and checks what it wrote.
  *
  * Usage: Harness --workload W --work DIR --cores N --trace 0|1
  *   ma_replay:      --files-per-trigger F --drains N
  *   registry_sweep: --data DIR --subset-stride K
  *
  * Everything it writes lands in DIR: `result.json` (timings, samples,
  * counters), `sink*.tsv` (every emitted row with its receive time),
  * `progress*.jsonl` (every trigger's progress event) and, traced,
  * `spans.jsonl`. */
object Harness {

  /** Wall clock in epoch ms with sub-ms resolution, comparable with the
    * generator's `time.time()`. */
  private val clockBase = System.currentTimeMillis() * 1e6 - System.nanoTime()
  def nowMs: Double = (clockBase + System.nanoTime()) / 1e6

  final class Tracer(val enabled: Boolean) {
    private val ids = new AtomicLong(0)
    private val spans = new ConcurrentLinkedQueue[String]()
    def nextId(): Long = ids.incrementAndGet()
    def record(id: Long, parent: Long, name: String, startMs: Double, endMs: Double): Unit =
      if (enabled) spans.add(
        f"""{"id":$id,"parent":$parent,"name":"${esc(name)}","start_ms":$startMs%.3f,"end_ms":$endMs%.3f}""")
    def span[T](name: String, parent: Long = 0L)(body: Long => T): T = {
      val id = nextId()
      val t0 = nowMs
      try body(id) finally record(id, parent, name, t0, nowMs)
    }
    def write(path: Path): Unit =
      if (enabled) Files.write(path, spans.asScala.toSeq.asJava)
  }

  def esc(s: String): String =
    s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", "\\n").replace("\t", "\\t")

  /** Session settings reuse the repo's choices, sized from the core count:
    * Bench's partitions and scan-split confs for batch; StreamBench's
    * RocksDB provider with changelog checkpointing for streaming. */
  def session(cores: Int, work: Path): SparkSession = {
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", "256k")
      .config("spark.sql.files.openCostInBytes", "64k")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
  }

  /** Bench.consume plus the row count: hashing the whole row forces every
    * output column to be computed. Returns (fingerprint, rows, plan). */
  def consume(df: DataFrame): (Long, Long, SparkPlan) = {
    val c = df.select(xxhash64(struct(df.columns.map(col).toIndexedSeq: _*)).as("h"))
      .agg(bit_xor(col("h")), count(lit(1)))
    val r = c.collect()(0)
    (if (r.isNullAt(0)) 0L else r.getLong(0), r.getLong(1), c.queryExecution.executedPlan)
  }

  /** Every node of an executed plan, through AQE stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }

  def planFacts(p: SparkPlan): Map[String, Long] = {
    val ns = planNodes(p)
    val exprs = ns.flatMap(_.expressions)
    Map(
      "scans" -> ns.count(n => n.isInstanceOf[DataSourceScanExec] || n.isInstanceOf[BatchScanExec]),
      "exchanges" -> ns.count(_.isInstanceOf[ShuffleExchangeLike]),
      "broadcasts" -> ns.count(_.isInstanceOf[BroadcastExchangeLike]),
      "inmemory_scans" -> ns.count(_.isInstanceOf[InMemoryTableScanExec]),
      "lambda_nodes" -> exprs.map(_.collect { case l: LambdaFunction => l }.size).sum,
      "codegen_fallbacks" -> exprs.map(_.collect { case f: CodegenFallback => f }.size).sum
    ).map { case (k, v) => k -> v.toLong }
  }

  /** Task metrics summed per registry module; stages are attributed
    * through the `perfbench.module` local property of the job. */
  final class TaskMetricsByModule extends SparkListener {
    private val stageModule = new ConcurrentHashMap[Int, String]()
    val acc = new ConcurrentHashMap[String, Array[Long]]()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.module")))
        .foreach(m => stageModule.put(e.stageInfo.stageId, m))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = stageModule.get(e.stageId)
      val tm = e.taskMetrics
      if (m != null && tm != null) {
        val a = acc.computeIfAbsent(m, _ => new Array[Long](6))
        a.synchronized {
          a(0) += tm.executorCpuTime
          a(1) += tm.jvmGCTime
          a(2) += tm.inputMetrics.bytesRead
          a(3) += tm.shuffleReadMetrics.totalBytesRead + tm.shuffleWriteMetrics.bytesWritten
          a(4) += tm.memoryBytesSpilled + tm.diskBytesSpilled
          a(5) += 1
        }
      }
    }
  }

  /** Progress events of every streaming query, with their receive time. */
  final class ProgressLog extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[(java.util.UUID, Double, Long, String)]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add((e.progress.id, nowMs, e.progress.numInputRows, e.progress.json))
    def of(q: StreamingQuery): Seq[(Double, Long, String)] =
      events.asScala.toSeq.filter(_._1 == q.id).map(e => (e._2, e._3, e._4))
    def processed(q: StreamingQuery): Long = of(q).map(_._2).sum
  }

  /** Rows the sink received, per trigger. */
  final class SinkLog {
    val batches = new ConcurrentLinkedQueue[(Long, Double, Double, Array[String])]()
    def fn(tracer: Tracer): (Dataset[Row], Long) => Unit = (df, id) => {
      val t0 = nowMs
      val rows = df.collect().map(_.getString(0))
      val t1 = nowMs
      batches.add((id, t1, t1 - t0, rows))
      tracer.record(tracer.nextId(), 0L, s"sink.foreachBatch#$id", t0, t1)
    }
  }

  def stockTicks(parsed: DataFrame): Dataset[StockTick] = {
    import parsed.sparkSession.implicits._
    parsed.select(col("symbol"), unix_micros(col("ts")).as("tsMicros"), col("type"),
      col("vwap_price_per_sec"), col("size_per_sec"), col("real_or_filled")).as[StockTick]
  }

  /** The reference job as the benchmark runs it: file source, parse,
    * windowed SMA (or V1), wire JSON, foreachBatch sink. */
  def startJob(spark: SparkSession, kind: String, src: String, ckpt: String,
      sink: SinkLog, tracer: Tracer, filesPerTrigger: Int): StreamingQuery = {
    val raw =
      if (filesPerTrigger > 0)
        // fromJsonFiles with the fixed files-per-trigger the replay drains at
        spark.readStream.option("maxFilesPerTrigger", filesPerTrigger.toLong).text(src)
      else MaPipeline.fromJsonFiles(spark, src)
    val parsed = MaPipeline.parse(raw)
    val out =
      if (kind == "v1") V1StateProcessor(stockTicks(parsed)).toDF()
      else MaPipeline.windowedSma(parsed)
    val w = Schemas.toWireJson(out).writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch(sink.fn(tracer))
    (if (filesPerTrigger > 0) w else w.trigger(Trigger.ProcessingTime("1 second"))).start()
  }

  def waitFor(what: String, timeoutS: Double)(cond: => Boolean): Unit = {
    val deadline = nowMs + timeoutS * 1000
    while (!cond) {
      if (nowMs > deadline) throw new RuntimeException(s"timed out waiting for $what")
      Thread.sleep(20)
    }
  }

  def countLines(dir: Path): Long = {
    def lines(p: Path): Long = {
      val l = Files.lines(p)
      try l.count() finally l.close()
    }
    val s = Files.list(dir)
    try s.iterator().asScala.map(lines).sum finally s.close()
  }

  def dirBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    }

  def vmHwmBytes(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong * 1024 }
      .getOrElse(0L)

  /** Process CPU time, sampled so run.py can cut any window out of it. */
  final class CpuSampler extends Thread {
    setDaemon(true)
    private val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val samples = new ConcurrentLinkedQueue[(Double, Long)]()
    @volatile var running = true
    override def run(): Unit = while (running) {
      samples.add((nowMs, os.getProcessCpuTime))
      Thread.sleep(100)
    }
  }

  private val quadratic = Set("cc1_dedup_clusters", "dd4_ngram_jaccard",
    "dd5_embedding_cosine", "rj1_range_join")

  def registry: Seq[(String, Q)] = Seq(
    "MovingAverage" -> graft.ops.MovingAverage.queries,
    "Relational" -> graft.ops.Relational.queries,
    "TextOps" -> graft.ops.TextOps.queries,
    "Dedup" -> graft.ops.Dedup.queries,
    "Similarity" -> graft.ops.Similarity.queries,
    "Multimodal" -> graft.ops.Multimodal.queries,
    "Extended" -> graft.ops.Extended.queries,
    "Pipeline" -> graft.ops.Pipeline.queries,
    "Graph" -> graft.ops.Graph.queries).flatMap { case (m, qs) => qs.map(m -> _) }

  /** Bench's order (alphabetical, quadratic twins last), every `stride`-th
    * query, plus the first query of any module the stride skipped. */
  def sweepQueries(stride: Int): Seq[(String, Q)] = {
    val ordered = registry.sortBy { case (_, q) => (quadratic(q.name), q.name) }
    val picked = ordered.zipWithIndex.collect { case (mq, i) if i % stride == 0 => mq }
    val missing = ordered.map(_._1).distinct.filterNot(picked.map(_._1).toSet)
      .map(m => ordered.find(_._1 == m).get)
    val keep = (picked ++ missing).map(_._2.name).toSet
    ordered.filter { case (_, q) => keep(q.name) }
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = opt("workload")
    val work = Paths.get(opt("work")).toAbsolutePath
    val cores = opt("cores").toInt
    val tracer = new Tracer(opt.getOrElse("trace", "0") == "1")
    val fpt = opt.getOrElse("files-per-trigger", "0").toInt
    if (workload == "batch_sma") return batchSma(work, cores)
    val cpu = new CpuSampler
    cpu.start()
    val out = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def put(k: String, v: Any): Unit = out(k) = v match {
      case d: Double => f"$d%.6f"
      case other => other.toString
    }
    def putJson(k: String, json: String): Unit = out(k) = json

    // Set-up: the session is built three times (the first build also
    // counts JVM start) and the median is reported; then one warm-up pass
    // lets the first timed operation run on JIT-compiled code.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val warm = work.resolve("warm")
    val builds = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until 3) {
      if (spark != null) spark.stop()
      val t0 = if (i == 0) jvmStartMs else nowMs
      spark = session(cores, work)
      spark.sparkContext.setLogLevel("ERROR")
      spark.range(1).collect()
      builds += (nowMs - t0) / 1000.0
    }
    putJson("session_setup_s", builds.mkString("[", ",", "]"))
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tasks = new TaskMetricsByModule
    if (tracer.enabled) spark.sparkContext.addSparkListener(tasks)
    val sink = new SinkLog

    def warmDrain(kind: String): Unit = {
      val warmTicks = countLines(warm)
      val wq = startJob(spark, kind, warm.toString, work.resolve(s"ckpt-warm-$kind").toString,
        new SinkLog, new Tracer(false), if (kind == "v1") 0 else math.max(fpt, 4))
      waitFor("warm drain", 120)(progress.processed(wq) >= warmTicks)
      wq.stop()
    }

    /** One live segment: start the job on an empty directory, signal
      * `ready<tag>`, and run until the generator's last tick is read. */
    def live(kind: String, tag: String, sink: SinkLog, tracer: Tracer): Unit = {
      val src = work.resolve("src" + tag)
      Files.createDirectories(src)
      val q = startJob(spark, kind, src.toString, work.resolve("ckpt" + tag).toString,
        sink, tracer, 0)
      Files.writeString(work.resolve("ready" + tag), "")
      val done = work.resolve(s"gen_done$tag.json")
      waitFor("generator", 170)(Files.exists(done))
      val total = "\"ticks\": (\\d+)".r.findFirstMatchIn(Files.readString(done)).get.group(1).toLong
      waitFor("live drain", 60)(progress.processed(q) >= total)
      // V1 emits from timers: let two more triggers fire after the last tick
      if (kind == "v1") {
        val n = progress.of(q).size
        waitFor("v1 timers", 30)(progress.of(q).size >= n + 2)
      }
      q.stop()
      writeProgress(work.resolve(s"progress$tag.jsonl"), progress.of(q))
      writeSink(work.resolve(s"sink$tag.tsv"), sink)
    }

    val warmStart = nowMs
    if (workload == "registry_sweep") {
      spark.range(1000000).selectExpr("sum(id)").collect()
      registry.find(_._2.name == "p1_project").foreach(q => consume(q._2.fn(spark, opt("data"))))
    } else {
      // a throwaway drain of the warm backlog warms the streaming path
      // (parsing, state store, codegen of the stateful plan) before timing
      warmDrain("ma")
    }
    put("warm_up_s", (nowMs - warmStart) / 1000.0)

    workload match {
      case "ma_live" =>
        live("ma", "", sink, tracer)
        put("ckpt_bytes", dirBytes(work.resolve("ckpt").resolve("state")))
        if (tracer.enabled) {
          batchCalls(spark, work.resolve("src"), tracer, put)
          // the traced run also measures V1StateProcessor on the same
          // generator and rate, after a warm drain of its own
          warmDrain("v1")
          live("v1", "_v1", new SinkLog, new Tracer(false))
        }

      case "ma_replay" =>
        // the backlog is drained several times, each by a fresh query with
        // its own checkpoint; run.py reports the median drain
        val staging = work.resolve("staging")
        val total = countLines(staging)
        val drains = opt("drains").toInt
        val times = (0 until drains).map { i =>
          val last = i == drains - 1
          val s = if (last) sink else new SinkLog
          val t0 = nowMs
          val q = startJob(spark, "ma", staging.toString, work.resolve(s"ckpt-$i").toString,
            s, if (last) tracer else new Tracer(false), fpt)
          waitFor("replay drain", 120)(progress.processed(q) >= total)
          val t1 = progress.of(q).map(_._1).max
          q.stop()
          writeProgress(work.resolve(s"progress-$i.jsonl"), progress.of(q))
          writeSink(work.resolve(s"sink-$i.tsv"), s)
          if (last) put("ckpt_bytes", dirBytes(work.resolve(s"ckpt-$i").resolve("state")))
          f"[$t0%.3f,$t1%.3f]"
        }
        putJson("drains", times.mkString("[", ",", "]"))
        put("ticks", total)
        if (tracer.enabled) batchCalls(spark, staging, tracer, put)

      case "registry_sweep" =>
        val data = opt("data")
        val stride = opt("subset-stride").toInt
        val lines = scala.collection.mutable.ArrayBuffer.empty[String]
        val facts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
        put("sweep_start_ms", nowMs)
        for ((module, q) <- sweepQueries(stride)) {
          // settle outside the timed window, as Bench does, so one query's
          // garbage and background compilation do not bleed into the next
          System.gc()
          Thread.sleep(200)
          spark.sparkContext.setLocalProperty("perfbench.module", module)
          val line = tracer.span(s"query:${q.name}") { qid =>
            try {
              val t0 = nowMs
              val df = tracer.span(s"build:${q.name}", qid)(_ => q.fn(spark, data))
              val t1 = nowMs
              val (fp, rows, plan) = tracer.span(s"consume:${q.name}", qid)(_ => consume(df))
              val t2 = nowMs
              if (tracer.enabled) planFacts(plan).foreach { case (k, v) => facts(k) += v }
              f"""{"name":"${q.name}","module":"$module","build_s":${(t1 - t0) / 1000}%.6f,"consume_s":${(t2 - t1) / 1000}%.6f,"fingerprint":$fp,"rows":$rows}"""
            } catch {
              case e: Throwable =>
                s"""{"name":"${q.name}","module":"$module","error":"${esc(String.valueOf(e.getMessage).take(300))}"}"""
            }
          }
          spark.sparkContext.setLocalProperty("perfbench.module", null)
          Model.release()
          lines += line
        }
        put("sweep_end_ms", nowMs)
        putJson("queries", lines.mkString("[", ",", "]"))
        if (tracer.enabled) {
          Thread.sleep(500) // let the listener bus deliver the last task ends
          putJson("plan", facts.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"))
          putJson("modules", tasks.acc.asScala.map { case (m, a) =>
            s""""$m":{"task_cpu_s":${a(0) / 1e9},"gc_s":${a(1) / 1e3},"input_bytes":${a(2)},"shuffle_bytes":${a(3)},"spill_bytes":${a(4)},"tasks":${a(5)}}"""
          }.mkString("{", ",", "}"))
        }
    }

    cpu.running = false
    put("peak_rss_bytes", vmHwmBytes())
    putJson("cpu_samples", cpu.samples.asScala.map { case (t, c) => f"[$t%.1f,$c]" }.mkString("[", ",", "]"))
    putJson("sink_batches", sink.batches.asScala.map { case (id, recv, dur, rows) =>
      f"[$id,$recv%.3f,$dur%.3f,${rows.length}]" }.mkString("[", ",", "]"))
    tracer.write(work.resolve("spans.jsonl"))
    Files.writeString(work.resolve("result.json"),
      out.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",\n", "}\n"))
    spark.stop()
  }

  /** `windowedSma` in batch mode over DIR/ticks, rows written as the sink
    * writes them: the reference the benchmark's own fold is tested on. */
  def batchSma(work: Path, cores: Int): Unit = {
    val spark = session(cores, work)
    spark.sparkContext.setLogLevel("ERROR")
    val parsed = MaPipeline.parse(spark.read.text(work.resolve("ticks").toString))
    val rows = Schemas.toWireJson(MaPipeline.windowedSma(parsed)).collect().map(_.getString(0))
    Files.write(work.resolve("batch.tsv"), rows.map(r => s"0\t0\t$r").toSeq.asJava)
    spark.stop()
  }

  /** Batch-mode calls into the parsing and windowing layers over the
    * run's own tick files, one span each (traced runs only). */
  def batchCalls(spark: SparkSession, dir: Path, tracer: Tracer,
      put: (String, Any) => Unit): Unit = {
    val raw = spark.read.text(dir.toString).cache()
    val n = raw.count().toDouble
    def rate(name: String)(df: => DataFrame): Unit = {
      val t0 = nowMs
      tracer.span(name)(_ => consume(df))
      put(name + "_rows_per_s", n / ((nowMs - t0) / 1000))
    }
    rate("Schemas.parseStockJson")(raw.select(Schemas.parseStockJson(col("value")).as("v")).select("v.*"))
    val parsed = MaPipeline.parse(raw).cache()
    parsed.count()
    rate("Schemas.toWireJson")(Schemas.toWireJson(parsed))
    rate("MaPipeline.windowedSma")(MaPipeline.windowedSma(parsed))
    parsed.unpersist()
    raw.unpersist()
  }

  def writeProgress(path: Path, events: Seq[(Double, Long, String)]): Unit =
    Files.write(path, events.map { case (t, _, js) => f"$t%.3f\t" + js.replace("\n", "") }.asJava)

  def writeSink(path: Path, sink: SinkLog): Unit = {
    val w = new BufferedWriter(new FileWriter(path.toFile))
    try sink.batches.asScala.foreach { case (id, recv, _, rows) =>
      rows.foreach(r => w.write(f"$recv%.3f\t$id\t$r\n"))
    } finally w.close()
  }
}
