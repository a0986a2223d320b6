package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

import graft.{GraftSession, SparkEntry}
import graft.ops.PartitionedTable
import graft.sinks.JdbcWarehouse
import graft.sources.{HttpIngest, Staged}
import graft.streaming.UpsertPipeline

/** Benchmark runner: one JVM runs one workload for one seed.
  *
  * {{{
  *   perfbench.Main --workload etl_upsert|sql_adhoc
  *     --input DIR --work DIR --out FILE --seed N --seconds S --trace 0|1
  *     [--cores N] [--ops q01,q02,...]
  * }}}
  *
  * Set-up (session build, staging, warm-up) runs [[Setups]] times, each on a
  * fresh session and a fresh copy of the input so nothing is reused. Then a
  * single client thread runs operations in a closed loop, whole rounds at a
  * time, until `--seconds` of operation wall have been measured. Result
  * checks, GC and heap reads happen between operations, outside the timed
  * regions. The result (per-operation walls and digests, set-up times,
  * per-layer metrics when traced) is written as JSON to `--out`; `run.py`
  * checks the digests and derives the reported metrics. */
object Main {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  final case class OpRec(op: Long, name: String, pass: Int, traced: Boolean, wall: Double,
                         rows: Long = 0L, digest: Long = 0L, error: String = "",
                         parts: Map[String, Double] = Map.empty)

  final class Ctx(val args: Map[String, String]) {
    val workload: String = args("workload")
    val seed: Long = args("seed").toLong
    val seconds: Double = args("seconds").toDouble
    val traced: Boolean = args("trace") == "1"
    val input: String = args("input")
    val work: Path = Paths.get(args("work"))
    val cores: Int = args.getOrElse("cores", "4").toInt
    val ops: Seq[String] = args.get("ops").toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
  }

  /** A workload: staging + warm-up for one set-up, and the passes. */
  trait Workload {
    /** Stage inputs for set-up `k` on `spark`; returns (prepare_s, warmup_s). */
    def setup(spark: SparkSession, k: Int): (Double, Double)
    /** Run pass `p` (the operations it contains, in order); `traced(i)`
      * tells whether the workload's i-th operation is traced in this pass. */
    def pass(spark: SparkSession, tr: Trace, p: Int, next: () => Long, traced: Int => Boolean,
             record: OpRec => Unit, between: () => Unit): Unit
    def hasPass(p: Int): Boolean = true
    /** Passes that make one round; the run stops only at round ends. */
    def round: Int = 1
    /** Whether the workload's i-th operation is traced in pass `p` of a
      * traced run: every other operation, the halves swapping each pass. */
    def tracedIn(i: Int, p: Int): Boolean = (i + p) % 2 == 1
    def shufflePartitions(spark: SparkSession): Int =
      spark.conf.get("spark.sql.shuffle.partitions").toInt
    def extraLayers(tr: Trace, ops: Seq[OpRec]): Map[String, Double] = Map.empty
    def close(): Unit = ()
  }

  // --- sql_adhoc --------------------------------------------------------------

  /** Every physical operator of an executed plan, adaptive stages included. */
  private def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => s +: planNodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }

  /** The [[Staged]] layouts the queries read, built the way
    * `Staged.prepare` builds them: its thread count, then its two phases in
    * its order (the multi-file table copies; the layouts read through
    * them). The whole of `Staged.prepare` also builds the corpus, ANN and
    * watch-directory stagings no query here reads; at sf0.1 on 3 cores it
    * takes 27 s cold and 12-14 s warm, which three set-ups a run cannot
    * afford. */
  private def stage(spark: SparkSession, dir: String): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    def all(fs: Seq[() => Any]): Unit =
      fs.map(f => pool.submit(new java.util.concurrent.Callable[Any] { def call(): Any = f() }))
        .foreach(_.get())
    try {
      all(Seq("lineitem", "orders", "customer", "part", "events")
        .map(t => () => Staged.tableDir(spark, dir, t)))
      all(Seq(() => Staged.zorderLineitem(spark, dir), () => Staged.clusteredLineitem(spark, dir),
        () => Staged.mv108Rollup(spark, dir)))
    } finally pool.shutdown()
  }

  final class Queries(ctx: Ctx) extends Workload {
    private var dir = ctx.input

    def setup(spark: SparkSession, k: Int): (Double, Double) = {
      // A fresh directory path per set-up: staged layouts are memoized per
      // path for the JVM's lifetime, so reusing one would skip the work.
      val d = ctx.work.resolve(s"input_$k")
      Files.createDirectories(d)
      Files.list(Paths.get(ctx.input)).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .foreach(f => Files.createSymbolicLink(d.resolve(f.getFileName), f.toAbsolutePath))
      dir = d.toString
      val prep = time(stage(spark, dir))
      val warm = time(SparkEntry.queries(ctx.ops.head)(spark, dir).collect())
      (prep, warm)
    }

    def pass(spark: SparkSession, tr: Trace, p: Int, next: () => Long, tracedOp: Int => Boolean,
             record: OpRec => Unit, between: () => Unit): Unit = {
      val order = new scala.util.Random(ctx.seed * 7919L + p).shuffle(ctx.ops)
      order.foreach { name =>
        val op = next()
        val traced = tracedOp(ctx.ops.indexOf(name))
        if (traced) tr.attach()
        tr.begin(op)
        val gc0 = gcMillis()
        val rec =
          try {
            val (df, build) = tr.span("registry", name)(SparkEntry.queries(name)(spark, dir))
            val (_, plan) = tr.span("plans", name)(df.queryExecution.executedPlan)
            val (rows, act) = tr.span("action", name)(df.collect())
            val lines = Canon.lines(df.schema, rows)
            val parts = mutable.Map("build_s" -> build, "plan_s" -> plan, "action_s" -> act,
              "gc_s" -> (gcMillis() - gc0) / 1000.0)
            if (traced) parts ++= planStats(df)
            OpRec(op, name, p, traced, build + plan + act, rows.length, Canon.digest(lines),
              parts = parts.toMap)
          } catch {
            case scala.util.control.NonFatal(e) =>
              OpRec(op, name, p, traced, 0.0, error = String.valueOf(e.getMessage).take(300))
          }
        if (traced) tr.detach()
        tr.end()
        record(rec)
        between()
      }
    }

    private def planStats(df: DataFrame): Map[String, Double] = {
      val phases = df.queryExecution.tracker.phases
      def phase(n: String) = phases.get(n).map(_.durationMs / 1000.0).getOrElse(0.0)
      val nodes = planNodes(df.queryExecution.executedPlan)
      Map("analysis_s" -> phase("analysis"), "optimization_s" -> phase("optimization"),
        "planning_s" -> phase("planning"),
        "exchanges" -> nodes.count(_.isInstanceOf[ShuffleExchangeLike]).toDouble,
        "codegen_stages" -> nodes.count(_.isInstanceOf[WholeStageCodegenExec]).toDouble)
    }

    override def shufflePartitions(spark: SparkSession): Int =
      graft.Tuning.sessionFor(spark, dir).conf.get("spark.sql.shuffle.partitions").toInt
  }

  // --- etl_upsert ----------------------------------------------------------

  final class Etl(ctx: Ctx) extends Workload {
    private val deliveries: Seq[Path] = Files.list(Paths.get(ctx.input)).iterator().asScala
      .map(_.getFileName.toString).filter(n => n.startsWith("d") && n.endsWith(".csv"))
      .map(n => n.stripPrefix("d").stripSuffix(".csv").toInt).toSeq.sorted
      .map(i => Paths.get(ctx.input, s"d$i.csv"))
    private val server = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", ex => {
      val f = Paths.get(ctx.input, ex.getRequestURI.getPath.stripPrefix("/"))
      if (Files.isRegularFile(f)) {
        ex.sendResponseHeaders(200, Files.size(f))
        Files.copy(f, ex.getResponseBody)
      } else ex.sendResponseHeaders(404, -1)
      ex.close()
    })
    server.start()
    private val jdbcUrl = "jdbc:derby:memory:perfbench;create=true"
    private val meas = ctx.work.resolve("measure")

    /** One delivery, published → rows readable: fetch, micro-batch upsert
      * into the bucket-partitioned warehouse, readback of the reference's
      * sample aggregation. Returns (fetch_s, stream_s, readback_s, rows
      * read back). */
    private def deliver(spark: SparkSession, tr: Trace, root: Path, i: Int)
        : (Double, Double, Double, Int) = {
      val name = s"d$i.csv"
      val url = s"http://127.0.0.1:${server.getAddress.getPort}/$name"
      val (landed, fetch) = tr.span("sources.fetch", name)(
        HttpIngest.fetch(url, root.resolve("landing").toString, name))
      require(landed.isDefined, s"fetch of $name landed nothing")
      val (_, stream) = tr.span("streaming", name)(UpsertPipeline.runOncePartitioned(
        spark, root.resolve("landing").toString, root.resolve("warehouse").toString,
        root.resolve("checkpoint").toString))
      val (n, readback) = tr.span("warehouse.readback", name) {
        PartitionedTable.read(spark, root.resolve("warehouse").toString)
          .createOrReplaceTempView("ghg_projections")
        spark.sql(
          """SELECT Country, Year, Scenario, round(sum(ReportedValue), 3) AS total
            |FROM ghg_projections GROUP BY Country, Year, Scenario
            |ORDER BY Country, Year, Scenario""".stripMargin).collect().length
      }
      (fetch, stream, readback, n)
    }

    override def hasPass(p: Int): Boolean = p < deliveries.size
    // A delivery is one pass, and a run delivers the whole sequence: the
    // warehouse grows delivery by delivery, so stopping on a time budget
    // would make the per-delivery cost depend on the machine's speed.
    override def round: Int = deliveries.size
    // The generator's period is three new deliveries and the redelivery of
    // the third. Tracing two of each period, alternately {1, 3} and {0, 2},
    // puts as many redeliveries on the traced side as on the untraced one.
    override def tracedIn(i: Int, p: Int): Boolean = (p + p / 4) % 2 == 1

    def setup(spark: SparkSession, k: Int): (Double, Double) = {
      // Warm-up: one delivery into a throwaway warehouse. Nothing to stage.
      val root = ctx.work.resolve(s"warmup_$k")
      (0.0, time(deliver(spark, new Trace(spark), root, 0)))
    }

    /** The JDBC target, created before the first JDBC leg (traced runs). */
    private lazy val jdbcTarget: Unit = JdbcWarehouse.ensureTarget(jdbcUrl)

    def pass(spark: SparkSession, tr: Trace, p: Int, next: () => Long, tracedOp: Int => Boolean,
             record: OpRec => Unit, between: () => Unit): Unit = {
      val op = next()
      val name = s"d$p.csv"
      val whDir = meas.resolve("warehouse")
      val traced = tracedOp(0)
      if (traced) tr.attach()
      tr.begin(op)
      val t0 = System.currentTimeMillis()
      val gc0 = gcMillis()
      val rec =
        try {
          val (fetch, stream, readback, n) = deliver(spark, tr, meas, p)
          val gc = (gcMillis() - gc0) / 1000.0
          require(n > 0, "readback returned no rows")
          val ((rows, digest), _) = tr.span("check", name)(
            warehouseDigest(PartitionedTable.read(spark, whDir.toString)))
          val rewritten = Files.walk(whDir).iterator().asScala.count(f =>
            f.getFileName.toString.endsWith(".parquet") &&
              Files.getLastModifiedTime(f).toMillis >= t0)
          OpRec(op, name, p, traced, fetch + stream + readback, rows, digest, parts = Map(
            "fetch_s" -> fetch, "stream_s" -> stream, "readback_s" -> readback,
            "delivered_bytes" -> Files.size(deliveries(p)).toDouble,
            "files_rewritten" -> rewritten.toDouble, "gc_s" -> gc))
        } catch {
          case scala.util.control.NonFatal(e) =>
            OpRec(op, name, p, traced, 0.0, error = String.valueOf(e.getMessage).take(300))
        }
      // The production JDBC path (traced runs only: its outcome is a
      // per-layer metric), outside the timed load latency: its own landing
      // dir and checkpoint, the same delivered file.
      val jdbc = if (!ctx.traced) Map.empty[String, Double] else {
        jdbcTarget
        val jdbcRoot = meas.resolve("jdbc")
        Files.createDirectories(jdbcRoot.resolve("landing"))
        Files.copy(deliveries(p), jdbcRoot.resolve("landing").resolve(name))
        val (error, secs) = tr.span("sinks.jdbc", name) {
          try {
            UpsertPipeline.runOnceJdbc(spark, jdbcRoot.resolve("landing").toString, jdbcUrl,
              jdbcRoot.resolve("checkpoint").toString)
            ""
          } catch {
            case scala.util.control.NonFatal(e) => rootCause(e).take(300)
          }
        }
        if (error.nonEmpty) jdbcErrors += error
        Map("jdbc_s" -> secs, "jdbc_failed" -> (if (error.isEmpty) 0.0 else 1.0))
      }
      if (traced) tr.detach()
      tr.end()
      record(rec.copy(parts = rec.parts ++ jdbc))
      between()
    }

    val jdbcErrors = mutable.ArrayBuffer.empty[String]

    /** (rows, order-insensitive digest) of the warehouse, the same as
      * `gen.row_hash` summed over the generator's state; computed by the
      * executors. */
    private def warehouseDigest(wh: DataFrame): (Long, Long) = {
      val cols = graft.ops.EmissionsEtl.warehouseSchema.fieldNames
      wh.select(cols.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*).rdd
        .map(Main.warehouseRowHash)
        .aggregate((0L, 0L))((a, h) => (a._1 + 1, a._2 + h), (a, b) => (a._1 + b._1, a._2 + b._2))
    }

    override def extraLayers(tr: Trace, ops: Seq[OpRec]): Map[String, Double] = {
      val t = ops.filter(_.traced)
      def mean(f: OpRec => Double) = if (t.isEmpty) 0.0 else t.map(f).sum / t.size
      val spans = tr.spans.asScala.toSeq
      def spanMean(layer: String) = {
        val s = spans.filter(_.layer == layer)
        if (s.isEmpty) 0.0 else s.map(_.durNs / 1e9).sum / s.size
      }
      val tasks = tr.tasks.asScala.toSeq
      val written = t.map(o => tasks.filter(x => x.op == o.op && x.layer == "streaming")
        .map(_.outBytes).sum.toDouble)
      val batches = tr.batches.asScala.toSeq
      val perOpBatches = t.map(o => batches.filter(_.op == o.op))
      val streamSpans = t.map(o => spans.filter(s => s.op == o.op && s.layer == "streaming")
        .map(_.durNs / 1e9).sum)
      Map(
        "sources.fetch_s" -> spanMean("sources.fetch"),
        "streaming.batches" -> mean(o => batches.count(_.op == o.op).toDouble),
        "streaming.add_batch_s" -> avg(perOpBatches.map(_.map(_.addBatchMs).sum / 1000.0)),
        "streaming.planning_s" -> avg(perOpBatches.map(_.map(_.planningMs).sum / 1000.0)),
        "streaming.wal_commit_s" -> avg(perOpBatches.map(_.map(_.walCommitMs).sum / 1000.0)),
        "streaming.overhead_s" -> avg(streamSpans.zip(perOpBatches).map { case (w, b) =>
          w - b.map(_.addBatchMs).sum / 1000.0 }),
        "warehouse.bytes_written" -> avg(written),
        "warehouse.write_amplification" ->
          written.sum / math.max(1.0, t.map(_.parts.getOrElse("delivered_bytes", 0.0)).sum),
        "warehouse.files_rewritten" -> mean(_.parts.getOrElse("files_rewritten", 0.0)),
        "warehouse.readback_s" -> spanMean("warehouse.readback"),
        // every delivery of a traced run takes the JDBC leg, traced or not
        "sinks.jdbc_load_s" -> avg(ops.flatMap(_.parts.get("jdbc_s"))),
        "sinks.jdbc_failed" -> ops.flatMap(_.parts.get("jdbc_failed")).sum)
    }

    override def close(): Unit = server.stop(0)
  }

  // --- shared ---------------------------------------------------------------

  private def time(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def avg(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def rootCause(e: Throwable): String = {
    var c = e
    while (c.getCause != null && (c.getCause ne c)) c = c.getCause
    s"${c.getClass.getName}: ${c.getMessage}"
  }

  private def gcMillis(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** `gen.row_hash` of one warehouse row: the first 8 bytes of the MD5 of
    * its fields joined by `|`, the double as its IEEE-754 bits. */
  def warehouseRowHash(r: org.apache.spark.sql.Row): Long = {
    val s = Seq(r.getString(0), r.getInt(1).toString, r.getString(2), r.getString(3),
      r.getString(4), java.lang.Double.doubleToLongBits(r.getDouble(5)).toString,
      r.getString(6)).mkString("|")
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** Layers an operation runs outside its timed wall (the JDBC leg of a
    * delivery, the output check); they get metrics of their own or none,
    * and stay out of the rest. */
  private val untimed = Set("sinks.jdbc", "check")

  /** Per-layer metrics over the traced operations (means per operation
    * unless named otherwise). */
  private def layers(tr: Trace, ops: Seq[OpRec], cores: Int): Map[String, Double] = {
    val t = ops.filter(o => o.traced && o.error.isEmpty)
    val ids = t.map(_.op).toSet
    val spans = tr.spans.asScala.toSeq.filter(s => ids(s.op) && !untimed(s.layer))
    val jobs = tr.jobList.filter(j => ids(j.op) && !untimed(j.layer))
    val jobIds = jobs.map(_.id).toSet
    val tasks = tr.tasks.asScala.toSeq.filter(x => ids(x.op) && !untimed(x.layer))
    val stages = tr.stages.asScala.toSeq.filter(s => jobIds(s.job))
    val n = math.max(1, t.size).toDouble
    def part(k: String) = t.map(_.parts.getOrElse(k, 0.0)).sum / n
    def layerSpan(l: String) = spans.filter(_.layer == l).map(_.durNs / 1e9).sum / n
    val gaps = t.map { o =>
      val ss = spans.filter(_.op == o.op)
      val (s0, s1) = (ss.map(_.startMs).min, ss.map(_.endMs).max)
      val iv = jobs.filter(_.op == o.op).map(j => (math.max(j.start, s0),
        math.min(if (j.end < 0) s1 else j.end, s1)))
      math.max(0.0, o.wall - Trace.unionMs(iv) / 1000.0)
    }
    val busy = tasks.map(x => (x.finish - x.launch) / 1000.0).sum
    val scanRows = tasks.map(_.inRows).sum.toDouble
    val resultRows = t.map(_.rows).sum.toDouble
    Map(
      "registry.build_s" -> layerSpan("registry"),
      "registry.build_jobs" -> jobs.count(_.layer == "registry") / n,
      "plans.analysis_s" -> part("analysis_s"),
      "plans.optimization_s" -> part("optimization_s"),
      "plans.planning_s" -> part("planning_s"),
      "plans.exchanges" -> part("exchanges"),
      "plans.codegen_stages" -> part("codegen_stages"),
      "scheduler.jobs" -> jobs.size / n,
      "scheduler.stages" -> stages.size / n,
      "scheduler.tasks" -> tasks.size / n,
      "scheduler.driver_gap_s" -> gaps.sum / n,
      "scheduler.task_wait_s" -> tasks.map(_.waitMs / 1000.0).sum / n,
      "scheduler.task_busy_s" -> busy / n,
      "scheduler.task_cpu_s" -> tasks.map(_.cpuNs / 1e9).sum / n,
      "scheduler.task_gc_s" -> tasks.map(_.gcMs / 1000.0).sum / n,
      "scheduler.core_utilization" -> busy / math.max(1e-9, cores * t.map(_.wall).sum),
      "scheduler.failed_tasks" -> tasks.count(_.failed).toDouble,
      "shuffle.write_bytes" -> tasks.map(_.shWrite).sum / n,
      "shuffle.read_bytes" -> tasks.map(_.shRead).sum / n,
      "shuffle.fetch_wait_s" -> tasks.map(_.fetchWaitMs / 1000.0).sum / n,
      "spill.disk_bytes" -> tasks.map(_.spill).sum / n,
      "materialize.blocks" -> ids.toSeq.map(tr.blocksAdded(_)).sum / n,
      "materialize.bytes_peak" -> (0L +: ids.toSeq.map(tr.blockPeak(_))).max.toDouble,
      "sources.scan_bytes" -> tasks.map(_.inBytes).sum / n,
      "sources.scan_rows" -> scanRows / n,
      "sources.rows_per_result_row" -> scanRows / math.max(1.0, resultRows),
      "jvm.gc_s" -> part("gc_s"))
  }

  /** Self time per layer over the traced operations, and every span. */
  private def writeTrace(tr: Trace, path: Path): Map[String, Double] = {
    val out = new StringBuilder
    tr.spans.asScala.foreach(s => out ++= Json.render(Map("kind" -> "span", "op" -> s.op,
      "layer" -> s.layer, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
      += '\n')
    tr.jobList.foreach(j => out ++= Json.render(Map("kind" -> "job", "op" -> j.op,
      "layer" -> j.layer, "job" -> j.id, "start_ms" -> j.start, "end_ms" -> j.end)) += '\n')
    tr.stages.asScala.foreach(s => out ++= Json.render(Map("kind" -> "stage", "op" -> s.op,
      "job" -> s.job, "stage" -> s.stage, "start_ms" -> s.submit, "end_ms" -> s.complete,
      "tasks" -> s.tasks)) += '\n')
    tr.tasks.asScala.foreach(x => out ++= Json.render(Map("kind" -> "task", "op" -> x.op,
      "layer" -> x.layer, "stage" -> x.stage, "start_ms" -> x.launch, "end_ms" -> x.finish,
      "cpu_ns" -> x.cpuNs, "failed" -> x.failed)) += '\n')
    tr.batches.asScala.foreach(b => out ++= Json.render(Map("kind" -> "micro_batch",
      "op" -> b.op, "batch" -> b.batchId, "trigger_ms" -> b.triggerMs,
      "add_batch_ms" -> b.addBatchMs, "planning_ms" -> b.planningMs,
      "wal_commit_ms" -> b.walCommitMs, "rows" -> b.rows)) += '\n')
    val self = Trace.selfTimeByLayer(tr.spans.asScala.toSeq)
    out ++= Json.render(Map("kind" -> "self_time_s", "layers" -> self)) += '\n'
    Files.writeString(path, out.toString)
    self
  }

  private def parseArgs(a: Array[String]): Map[String, String] =
    a.grouped(2).map { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}")
    }.toMap

  /** Exits non-zero on any failure: the loopback HTTP server and Spark keep
    * non-daemon threads that would otherwise hold the JVM open. */
  def main(argv: Array[String]): Unit =
    try run(new Ctx(parseArgs(argv)))
    catch {
      case t: Throwable =>
        t.printStackTrace()
        sys.exit(1)
    }

  private def run(ctx: Ctx): Unit = {
    Files.createDirectories(ctx.work)
    val memory = java.lang.management.ManagementFactory.getMemoryMXBean
    var spark: SparkSession = null
    var workload: Workload = null
    val setups = mutable.ArrayBuffer.empty[Map[String, Double]]
    for (k <- 0 until Setups) {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = System.nanoTime()
      val (s, build) = { val b0 = System.nanoTime()
        val s = GraftSession.build("perfbench", ctx.cores.toString)
        (s, (System.nanoTime() - b0) / 1e9) }
      spark = s
      if (workload == null) workload = ctx.workload match {
        case "etl_upsert" => new Etl(ctx)
        case "sql_adhoc" => new Queries(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      val (prep, warm) = workload.setup(spark, k)
      setups += Map("session_s" -> build, "prepare_s" -> prep, "warmup_s" -> warm,
        "total_s" -> (System.nanoTime() - t0) / 1e9)
    }

    val tr = new Trace(spark)
    val ops = mutable.ArrayBuffer.empty[OpRec]
    var opId = 0L
    val heapMb = mutable.ArrayBuffer.empty[Double]
    var betweenS = 0.0
    // Collect until the heap stops shrinking (at most four rounds): Spark's
    // context cleaner frees the cached blocks of objects a collection found
    // dead, and only a later collection reclaims them, so a single reading
    // depends on the cleaner's timing.
    def between(): Unit = betweenS += time {
      System.gc()
      var used = memory.getHeapMemoryUsage.getUsed
      var shrinking = true
      var rounds = 1
      while (shrinking && rounds < 4) {
        Thread.sleep(50)
        System.gc()
        val next = memory.getHeapMemoryUsage.getUsed
        shrinking = next < used - used / 50
        used = math.min(used, next)
        rounds += 1
      }
      heapMb += used / (1024.0 * 1024.0)
    }
    // Settle the set-ups' garbage before the first operation. This reading
    // is no operation's and stays out of the peak: the cleaner's work on the
    // last warm-up sometimes outlasts its collections.
    between()
    heapMb.clear()
    val (busy0, steal0) = graft.tools.ProcStat.busyAndStealSec()
    val wall0 = System.nanoTime()
    var measured = 0.0
    var p = 0
    // Whole rounds until --seconds of operation wall. A traced run traces
    // half of the operations (`Workload.tracedIn`) and runs at least two
    // passes: every operation then runs traced and untraced, in a cold and
    // a warm pass alike, so the run can report its own overhead.
    while ((measured < ctx.seconds || p % workload.round != 0 || (ctx.traced && p < 2)) &&
        workload.hasPass(p)) {
      val pass = p
      workload.pass(spark, tr, p, () => { opId += 1; opId },
        i => ctx.traced && workload.tracedIn(i, pass), { r =>
        ops += r
        measured += r.wall
      }, () => between())
      p += 1
    }
    val wall = (System.nanoTime() - wall0) / 1e9
    val (busy1, steal1) = graft.tools.ProcStat.busyAndStealSec()

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> ctx.workload, "seed" -> ctx.seed,
      "setups" -> setups.toSeq,
      "ops" -> ops.toSeq.map(o => Map("op" -> o.op, "name" -> o.name, "pass" -> o.pass,
        "traced" -> o.traced, "wall_s" -> o.wall, "rows" -> o.rows,
        "digest" -> o.digest.toString, "error" -> o.error, "parts" -> o.parts)),
      "peak_live_heap_mb" -> heapMb.max,
      "live_heap_mb" -> heapMb.toSeq,
      "hardware" -> Map("cores" -> ctx.cores,
        "available_processors" -> Runtime.getRuntime.availableProcessors,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "jdk" -> System.getProperty("java.version"), "spark" -> spark.version),
      "proc_stat" -> Map("steal_s" -> (steal1 - steal0), "busy_s" -> (busy1 - busy0),
        "wall_s" -> wall),
      "between_ops_s" -> betweenS)
    workload match {
      case e: Etl => result("jdbc_errors") = e.jdbcErrors.distinct.toSeq
      case _ =>
    }
    if (ctx.traced) {
      val self = writeTrace(tr, ctx.work.resolve("trace.jsonl"))
      val base = layers(tr, ops.toSeq, ctx.cores)
      result("layers") = base ++ workload.extraLayers(tr, ops.toSeq) ++ Map(
        "session.build_s" -> median(setups.map(_("session_s")).toSeq),
        "sources.prepare_s" -> median(setups.map(_("prepare_s")).toSeq),
        "tuning.shuffle_partitions" -> workload.shufflePartitions(spark).toDouble)
      result("self_time_s") = self
    }
    workload.close()
    spark.stop()
    Files.writeString(Paths.get(ctx.args("out")), Json.render(result))
  }
}

/** Minimal JSON rendering for the runner's output. */
object Json {
  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
