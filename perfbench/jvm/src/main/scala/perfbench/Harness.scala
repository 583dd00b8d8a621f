package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.V2TableWriteExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkEntry, Tables}
import graft.ops.Dedup
import graft.pipeline.EntityPipeline
import graft.streaming.{StreamJob, StreamingDedup, StreamingTakedown}

/** The benchmark's Spark application. It reaches the engine only through
  * public entry points (SparkEntry.queries, Tables, StreamJob.transform,
  * StreamingDedup.run, StreamingTakedown.run, Dedup's text-probe index
  * lifecycle) and writes everything it measured to WORK/jvm_result.json;
  * perfbench/run.py turns that into metrics.
  *
  *   Harness <workload> key=value...
  *
  * workload: batch_surface | entity_stream | dedup_takedown | crosscheck
  * keys: corpus, work, seed, cores, trace (0|1), setups, panel (comma
  *       list or "all"), golden (optional fingerprint file)
  */
object Harness {
  final case class Args(workload: String, kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing $k="))
    def int(k: String): Int = apply(k).toInt
    def get(k: String): Option[String] = kv.get(k)
  }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.head, argv.tail.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap)
    val h = new Harness(a)
    val out = try h.run() finally h.close()
    Json.writeFile(s"${a("work")}/jvm_result.json", out)
  }

  // ---- the session, exactly as graft.Bench configures it --------------

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.constraintPropagation.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** graft.Bench's warm-up minus its corpus read: a scan/sum and one
    * synthetic broadcast-join + aggregate + window + sort noop write.
    */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(1000).selectExpr("sum(id)").collect()
    val a = spark.range(2000000L)
      .selectExpr("id", "id % 97 AS k", "cast(id % 13 as double) AS v")
    val b = spark.range(97L).selectExpr("id AS k", "id * 2 AS w")
    a.join(broadcast(b), "k")
      .groupBy(col("k")).agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(pmod(col("k"), lit(7))).orderBy(col("sv"))))
      .orderBy(col("k"))
      .write.format("noop").mode("overwrite").save()
  }

  /** graft.Bench's fixed data-independent CPU probe (seconds). */
  def probe(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(50000000L).selectExpr("sum(xxhash64(id) % 1000000)").collect()
    secsSince(t0)
  }

  /** Row count plus an order-insensitive hash of every column. Doubles
    * are compared to 9 significant digits, so summation order cannot
    * flip a fingerprint; nested values hash through their JSON form.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    def norm(f: StructField): Column = f.dataType match {
      case DoubleType | FloatType =>
        format_string("%.9g", col(f.name).cast(DoubleType) + lit(0.0))
      case _: ArrayType | _: MapType | _: StructType => to_json(col(f.name))
      case _ => col(f.name)
    }
    val h = if (df.schema.isEmpty) lit(0L) else xxhash64(df.schema.fields.toSeq.map(norm): _*)
    val r = df.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def dirBytes(f: File): Long =
    if (!f.exists) 0L
    else if (f.isFile) f.length
    else Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
}

final class Harness(a: Harness.Args) {
  import Harness._

  private val work = a("work")
  private val corpus = a("corpus")
  private val cores = a.int("cores")
  private val seed = a.get("seed").map(_.toLong).getOrElse(1L)
  private val tracer = new Tracer(a.get("trace").contains("1"), s"${a.workload}-$seed-${ProcessHandle.current.pid}")
  private var spark: SparkSession = _
  private val errors = scala.collection.mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L

  def close(): Unit = if (spark != null) { tracer.detach(); spark.stop(); spark = null }

  private def file(rel: String): String = s"$work/$rel"
  private def fail(msg: String): Unit = { failed += 1; errors += msg; System.err.println(s"[perfbench] $msg") }

  def run(): Map[String, Any] = {
    val runT0 = System.nanoTime()
    val setups = a.get("setups").map(_.toInt).getOrElse(3)
    val setupS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val setupExtra = scala.collection.mutable.ArrayBuffer.empty[Double]
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var indexDir = ""
    var probeStart = 0.0
    // Each set-up is a fresh session plus graft.Bench's warm-up; the first
    // also compiles the workload's own code paths on data that is not the
    // corpus (JIT state is per JVM, so later set-ups need no second pass).
    // On batch_surface every set-up session then serves one timed pass, as
    // a user's session would: memos are built again in each.
    for (i <- 0 until setups) {
      close()
      val t0 = System.nanoTime()
      tracer.span("setup", Map("repeat" -> i)) {
        spark = tracer.span("setup.session")(session(cores, work))
        tracer.span("setup.warmup")(warmUp(spark))
        if (i == 0 && a.workload == "batch_surface") tracer.span("setup.warm_panel")(warmPanel())
        if (i == 0 && a.workload == "entity_stream") tracer.span("setup.warm_stream")(warmStream())
        if (a.workload == "dedup_takedown") {
          indexDir = file(s"index$i")
          val t1 = System.nanoTime()
          tracer.span("dedup.index_build")(Dedup.persistTextProbeIndex(history(), indexDir))
          setupExtra += secsSince(t1) * 1000
          tracer.span("setup.warm_probe")(warmProbe(indexDir))
        }
      }
      setupS += secsSince(t0)
      tracer.attach(spark)
      if (i == 0) probeStart = probe(spark)
      if (a.workload == "batch_surface") passes += batchPass(i)
    }
    val body: Map[String, Any] = a.workload match {
      case "batch_surface"  =>
        val rows = passes.flatMap(_("queries").asInstanceOf[Seq[Map[String, Any]]])
        if (tracer.enabled) Json.writeLines(file("queries.jsonl"), rows)
        Map("queries" -> rows.toSeq, "timed_s" -> passes.map(_("timed_s")).toSeq,
          "golden_size" -> golden.size, "warm_failures" -> warmFailures.toSeq)
      case "entity_stream"  => entityStream()
      case "dedup_takedown" => dedupTakedown(indexDir)
      case "crosscheck"     => crossCheck()
      case w => sys.error(s"unknown workload $w")
    }
    val probeEnd = probe(spark)
    val memoBytes = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum
    tracer.detach()
    val conf = spark.conf.getAll
    // heap still reachable from the live session after a full GC: memos,
    // cached blocks and state the run left pinned. Spark's ContextCleaner
    // frees blocks of collected frames asynchronously, so collect until
    // two readings agree.
    val mem = ManagementFactory.getMemoryMXBean
    def usedMb(): Double = { System.gc(); Thread.sleep(200); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var heapRetainedMb = usedMb()
    var prev = Double.MaxValue
    var settles = 0
    while (settles < 8 && math.abs(prev - heapRetainedMb) > 0.01 * heapRetainedMb) {
      prev = heapRetainedMb; heapRetainedMb = usedMb(); settles += 1
    }
    close()
    if (tracer.enabled) tracer.dump(file("spans.jsonl"))
    if (tracer.enabled) Json.writeLines(file("progress.jsonl"), tracer.progress)
    body ++ Map(
      "workload" -> a.workload, "seed" -> seed, "cores" -> cores,
      "setup_s" -> setupS.toSeq, "setup_extra_ms" -> setupExtra.toSeq,
      "heap_retained_mb" -> heapRetainedMb,
      "heap_max_mb" -> mem.getHeapMemoryUsage.getMax / 1048576.0,
      "memo_storage_bytes" -> memoBytes,
      "probe_start_s" -> probeStart, "probe_end_s" -> probeEnd,
      "spark_conf" -> conf,
      "run_s" -> secsSince(runT0),
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq)
  }

  // ---- batch_surface --------------------------------------------------

  @volatile private var lastWrite: QueryExecution = _
  private val writeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      if (qe.executedPlan.exists(_.isInstanceOf[V2TableWriteExec])) lastWrite = qe
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Rows the last noop write consumed, read from its plan metrics when
    * the node under the write exposes a row count.
    */
  private def writtenRows(qe: QueryExecution): Option[Long] = {
    def down(p: SparkPlan): Option[Long] = p match {
      case x: AdaptiveSparkPlanExec => down(x.executedPlan)
      case x: WholeStageCodegenExec => down(x.child)
      case x: InputAdapter => down(x.child)
      case x: ProjectExec => down(x.child)
      case x: SortExec => down(x.child)
      case x: ColumnarToRowExec => down(x.child)
      case x: AQEShuffleReadExec => down(x.child)
      case x: QueryStageExec => down(x.plan)
      case x: ShuffleExchangeExec => x.metrics.get("shuffleRecordsWritten").map(_.value)
      case x => x.metrics.get("numOutputRows").map(_.value)
    }
    qe.executedPlan.collectFirst { case w: V2TableWriteExec => w.query }.flatMap(down)
  }

  private lazy val panel: Seq[String] = a("panel") match {
    case "all" => SparkEntry.queries.keys.toSeq.sorted
    case p => p.split(',').toSeq.sorted
  }
  private val warmFailures = scala.collection.mutable.LinkedHashSet.empty[String]

  /** Every panel query once over the small warm-up tables (another seed,
    * never the corpus), so the timed pass does not also pay first-use
    * code generation and JIT for whichever query the shuffle puts first.
    * Memos are keyed by table directory, so none carries over.
    */
  private def warmPanel(): Unit = panel.foreach { name =>
    try SparkEntry.queries(name)(spark, a("warm")).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => warmFailures += name }
  }

  private lazy val golden: Map[String, (Long, String)] = a.get("golden").filter(new File(_).exists).map { g =>
    val rx = "\"([a-z0-9_]+)\":\\{\"hash\":\"(-?[0-9]+)\",\"rows\":([0-9]+)\\}".r
    rx.findAllMatchIn(scala.io.Source.fromFile(g).mkString)
      .map(m => m.group(1) -> (m.group(3).toLong, m.group(2))).toMap
  }.getOrElse(Map.empty)

  /** One closed-loop pass over the panel, in an order shuffled by the
    * seed and the pass number.
    */
  private def batchPass(pass: Int): Map[String, Any] = {
    val all = SparkEntry.queries
    val order = new scala.util.Random(seed * 1000 + pass).shuffle(panel)
    val gold = golden
    spark.listenerManager.register(writeListener)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var timedS = 0.0
    for (name <- order) {
      attempted += 1
      val fn = all(name)
      val c0 = tracer.counters()
      val t0 = System.nanoTime()
      try {
        val (df, c1, t1) = tracer.span("query", Map("query" -> name)) {
          val df = tracer.span("sparkentry.construct", Map("query" -> name))(fn(spark, corpus))
          val t1 = System.nanoTime()
          val c1 = tracer.counters()
          tracer.span("exec.noop_write", Map("query" -> name))(
            df.write.format("noop").mode("overwrite").save())
          (df, c1, t1)
        }
        val t2 = System.nanoTime()
        timedS += (t2 - t0) / 1e9
        val c2 = tracer.counters()
        org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
        val planRows = Option(lastWrite).flatMap(writtenRows)
        lastWrite = null // the plan must not pin the query's data past its check
        // every run: the row count, where the write's plan exposes it;
        // traced runs: the full fingerprint
        val (n, hash) =
          if (tracer.enabled) tracer.span("check.fingerprint", Map("query" -> name))(fingerprint(df))
          else (planRows.getOrElse(-1L), null)
        val want = gold.get(name)
        val ok = want.forall { case (wn, wh) => (n < 0 || n == wn) && (hash == null || hash == wh) }
        if (!ok) fail(s"$name: (rows, fingerprint) ($n, $hash) != golden ${gold(name)}")
        rows += Map("query" -> name, "pass" -> pass, "latency_s" -> (t2 - t0) / 1e9,
          "construct_ms" -> (t1 - t0) / 1e6, "write_ms" -> (t2 - t1) / 1e6,
          "construct" -> (c1 - c0).toMap, "total" -> (c2 - c0).toMap,
          "rows" -> n, "plan_rows" -> planRows, "hash" -> hash,
          "golden_checked" -> (want.isDefined && n >= 0), "ok" -> ok)
      } catch {
        case e: Throwable =>
          fail(s"$name threw ${e.getClass.getName}: ${e.getMessage}")
          rows += Map("query" -> name, "pass" -> pass, "ok" -> false)
      }
    }
    spark.listenerManager.unregister(writeListener)
    Map("queries" -> rows.toSeq, "timed_s" -> timedS)
  }

  // ---- entity_stream --------------------------------------------------

  private def await(name: String, q: StreamingQuery): Boolean =
    try { q.processAllAvailable(); true }
    catch { case e: Throwable => fail(s"$name trigger failed: ${e.getMessage}"); false }

  private def waitFor(rel: String, timeoutS: Double): Unit = {
    val f = new File(file(rel))
    val t0 = System.nanoTime()
    while (!f.exists) {
      if (secsSince(t0) > timeoutS) sys.error(s"timed out waiting for $rel")
      Thread.sleep(5)
    }
  }

  private def articles(dir: String, maxFiles: Option[Int] = None): DataFrame = {
    val r = spark.readStream.format("text")
    maxFiles.fold(r)(n => r.option("maxFilesPerTrigger", n.toString)).load(dir)
  }

  private def entityQuery(src: DataFrame, name: String, ckpt: String,
                          trigger: Trigger = Trigger.ProcessingTime(0L)): StreamingQuery = {
    val q = StreamJob.transform(src).writeStream
      .format("noop").outputMode(OutputMode.Complete).trigger(trigger)
      .option("checkpointLocation", ckpt).queryName(name).start()
    tracer.nameQuery(q.id, name)
    q
  }

  /** The reference job over fifty synthetic articles: the streaming code
    * paths compile before the measured query starts, and no corpus data
    * is read.
    */
  private def warmStream(): Unit = {
    val dir = file("warm_stream")
    new File(dir).mkdirs()
    val vals = (0 until 50).map(k =>
      s"""{"title":"Warm Up$k","description":"spark stream","content":"window table Kx$k"}""")
    java.nio.file.Files.write(new File(s"$dir/w.json").toPath, vals.asJava)
    val q = entityQuery(articles(dir), "warm", file("warm_ckpt"))
    q.processAllAvailable()
    q.stop()
  }

  /** Lets the stopped phase-1 queries' clean-up finish before the drain
    * is timed, so the drain does not absorb it.
    */
  private def settle(): Unit = { System.gc(); Thread.sleep(1000) }

  // Counters and wall time of the measured stream phases (phase 1 and
  // the drain), without the checks between them.
  private var windowCounters = Counters()
  private var windowS = 0.0
  private def measured[T](body: => T): T = {
    val c0 = tracer.counters()
    val t0 = System.nanoTime()
    try body
    finally { windowS += secsSince(t0); windowCounters = windowCounters + (tracer.counters() - c0) }
  }

  private def entityStream(): Map[String, Any] = {
    val ckpt = file("ckpt_stream")
    waitFor("generator_ready", 120)
    val phase1 = measured {
      // the reference's trigger kind (a processing-time trigger, 30 s by
      // default) at an interval scaled to the run; the drain runs back to back
      val q = tracer.span("stream.start")(entityQuery(articles(file("in/articles")), "entity_stream",
        ckpt, Trigger.ProcessingTime(1000L)))
      java.nio.file.Files.writeString(new File(file("ready")).toPath, "1")
      tracer.span("stream.phase1") {
        waitFor("manifest.json", 120)
        val ok = await("entity_stream", q)
        q.stop()
        ok
      }
    }
    // the final state, read back through Spark's state data source
    if (phase1) tracer.span("check.state_read") {
      spark.read.format("statestore").load(ckpt)
        .select(col("key.entity").as("entity"), col("value.count").as("n"))
        .coalesce(1).write.mode("overwrite").parquet(file("final_state"))
    }
    java.nio.file.Files.writeString(new File(file("oracle.sql")).toPath, EntityPipeline.oracle)
    settle()
    val drain = measured(tracer.span("stream.drain") {
      val t0 = System.nanoTime()
      val dq = entityQuery(articles(file("backlog"), Some(20)), "entity_drain", file("ckpt_drain"))
      val ok = await("entity_drain", dq)
      val s = secsSince(t0)
      dq.stop()
      if (ok) s else Double.NaN
    })
    Map("drain_s" -> drain, "stream_ckpt" -> ckpt, "stream_jobs" -> jobsPerBatch,
      "counters" -> windowCounters.toMap, "counted_s" -> windowS)
  }

  private def jobsPerBatch: Seq[Map[String, Any]] = tracer.streamJobs.toSeq.sortBy(_._1)
    .map { case ((q, b), n) => Map("query" -> q, "batch_id" -> b, "jobs" -> n) }

  // ---- dedup_takedown -------------------------------------------------

  private def history(): DataFrame = Tables.documents(spark, corpus).select("doc_id", "text")

  private val probeSchema = new StructType().add("doc_id", LongType).add("text", StringType)
  private val deleteSchema = new StructType().add("doc_id", LongType)

  /** One probe of synthetic text against the freshly built index, so
    * the serving path's code is compiled before the stream starts.
    */
  private def warmProbe(indexDir: String): Unit = {
    val docs = spark.range(20).selectExpr("-1 - id AS doc_id",
      "concat('warm probe text ', id, ' spark window') AS text")
    Dedup.multiSignalProbeIndexed(docs, Dedup.loadTextProbeIndex(spark, indexDir))
      .write.format("noop").mode("overwrite").save()
  }

  private def probes(dir: String, maxFiles: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(probeSchema)
    maxFiles.fold(r)(n => r.option("maxFilesPerTrigger", n.toString)).json(dir)
  }

  private def dedupTakedown(indexDir: String): Map[String, Any] = {
    waitFor("generator_ready", 120)
    val phase1 = measured {
      val dq = tracer.span("stream.start")(StreamingDedup.run(probes(file("in/probes")), history(),
        file("out_dedup"), file("ckpt_dedup"), indexDir = Some(indexDir)))
      tracer.nameQuery(dq.id, "dedup")
      val tq = tracer.span("stream.start")(StreamingTakedown.run(
        spark.readStream.schema(deleteSchema).json(file("in/deletes")),
        indexDir, file("out_takedown"), file("ckpt_takedown")))
      tracer.nameQuery(tq.id, "takedown")
      java.nio.file.Files.writeString(new File(file("ready")).toPath, "1")
      tracer.span("stream.phase1") {
        waitFor("manifest.json", 120)
        val ok = await("takedown", tq) & await("dedup", dq)
        tq.stop(); dq.stop()
        ok
      }
    }
    var probeEqual: Any = null
    if (phase1) tracer.span("check.rebuild_minus_deleted") {
      // a probe after the run must equal the rebuilt index minus the
      // deleted documents
      val sent = spark.read.schema(probeSchema).json(file("in/probes"))
      val deleted = spark.read.schema(deleteSchema).json(file("in/deletes")).distinct()
      val served = Dedup.multiSignalProbeIndexed(sent, Dedup.loadTextProbeIndex(spark, indexDir))
      val rebuilt = Dedup.multiSignalProbeIndexed(sent,
        Dedup.buildTextProbeIndex(history().join(deleted, Seq("doc_id"), "left_anti")))
      val diff = served.exceptAll(rebuilt).count() + rebuilt.exceptAll(served).count()
      probeEqual = diff == 0
      attempted += 1
      if (diff != 0) fail(s"post-run probe differs from rebuild-minus-deleted in $diff rows")
    }
    settle()
    val drain = measured(tracer.span("stream.drain") {
      val t0 = System.nanoTime()
      val q = StreamingDedup.run(probes(file("backlog"), Some(10)), history(),
        file("out_drain"), file("ckpt_drain"), indexDir = Some(indexDir))
      tracer.nameQuery(q.id, "dedup_drain")
      val ok = await("dedup_drain", q)
      val s = secsSince(t0)
      q.stop()
      if (ok) s else Double.NaN
    })
    Map("drain_s" -> drain, "probe_equal" -> probeEqual,
      "dedup_ckpt" -> file("ckpt_dedup"), "takedown_ckpt" -> file("ckpt_takedown"),
      "dedup_out" -> file("out_dedup"), "takedown_out" -> file("out_takedown"),
      "dedup_output_bytes" -> dirBytes(new File(file("out_dedup"))),
      "stream_jobs" -> jobsPerBatch, "counters" -> windowCounters.toMap, "counted_s" -> windowS)
  }

  // ---- crosscheck: the listener's counters vs independent counts ------

  private def crossCheck(): Map[String, Any] = {
    val name = "q01_pricing_summary"
    val sc = spark.sparkContext
    val c0 = tracer.counters()
    sc.setJobGroup("crosscheck", name)
    SparkEntry.queries(name)(spark, corpus).write.format("noop").mode("overwrite").save()
    sc.clearJobGroup()
    val c = tracer.counters() - c0
    val st = sc.statusTracker
    val jobIds = st.getJobIdsForGroup("crosscheck").toSeq
    val stageIds = jobIds.flatMap(j => st.getJobInfo(j).toSeq.flatMap(_.stageIds.toSeq)).distinct
    val trackerTasks = stageIds.flatMap(s => st.getStageInfo(s).toSeq)
      .map(i => i.numCompletedTasks + i.numFailedTasks).sum
    attempted += 1
    Map("query" -> name, "listener" -> c.toMap,
      "tracker_jobs" -> jobIds.size, "tracker_tasks" -> trackerTasks)
  }
}
