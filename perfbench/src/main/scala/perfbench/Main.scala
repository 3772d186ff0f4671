package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.v2.DeltaShareInputPartition

/** The benchmark runner: one workload, one seed, one JVM.
  *
  * Sets the workload up [[Setups]] times (each on a fresh session; the
  * last one serves), runs an untimed warm-up pass that writes every
  * op's check frame for the output check and an untimed settling pass,
  * then starts timed passes while less than `--seconds` have passed (at
  * least [[MinPasses]]), each op list shuffled from the seed. An op is timed
  * from DataFrame construction through the noop write. With
  * `--trace 1`, passes alternate traced and untraced; traced passes
  * record spans and per-op layer counters. Raw results go to
  * `<out>/result.json`, spans to `<out>/trace.json`; run.py checks the
  * outputs and derives the metrics.
  *
  * Usage: `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --out DIR (--data-dir DIR | --share-dir DIR)`
  */
object Main extends AdaptiveSparkPlanHelper {

  /** Set-ups per run; run.py reports the median of the last four. The
    * first also pays the JVM's first-session class loading (about ten
    * times a warm set-up), and the next two still get faster while the
    * JIT warms. */
  val Setups = 7

  /** Timed passes at least: the median of three leaves out one pass
    * slowed by the host; a traced run gets both kinds. */
  val MinPasses = 3

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val seed = opt("seed").toLong
    val cpus = Runtime.getRuntime.availableProcessors()
    val workload: Workload = opt("workload") match {
      case "share_http" => new ShareHttp(opt("share-dir"), seed, cpus)
      case "surface_small" => new Surface(opt("data-dir"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try new Run(workload, seed, cpus, opt("seconds").toDouble, opt("trace") == "1",
      opt("out")).run()
    finally workload.close()
  }

  /** Jackson writes numbers with `Double.toString`, which no default
    * locale changes, so the files parse on a decimal-comma JVM too. */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  def toJson(v: Any): String = json.writeValueAsString(v)
  private def writeJson(path: java.nio.file.Path, v: Any): Unit =
    Files.write(path, toJson(v).getBytes(StandardCharsets.UTF_8))

  /** Seconds since `t0` (a `System.nanoTime`). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** The op list of pass `p`, shuffled from the seed. */
  def passOrder(ops: Seq[Op], seed: Long, p: Int): Seq[Op] =
    new scala.util.Random(seed * 1000003L + p).shuffle(ops)

  private final class Run(wl: Workload, seed: Long, cpus: Int, seconds: Double,
      trace: Boolean, out: String) {

    private var spark: SparkSession = _
    private val tracer = new Tracer(wl)

    def run(): Unit = {
      val setupS = (1 to Setups).map { i =>
        if (i > 1) {
          wl.tearDown(); spark.stop()
          // let the stopped session's threads wind down and its garbage
          // go, outside the timed window, so it does not load the next
          System.gc(); Thread.sleep(200)
        }
        val t0 = System.nanoTime()
        spark = Workload.session(cpus)
        spark.sparkContext.setLogLevel("ERROR")
        wl.setUp(spark)
        since(t0)
      }
      if (trace) tracer.install(spark)

      val warm = wl.ops.map { op =>
        val t0 = System.nanoTime()
        var aggExprs: Option[String] = None
        val error =
          try {
            val df = op.build(spark)
            if (op.aggCheck) aggExprs = Some(Op.aggExprs(df).mkString(", "))
            op.checkFrame(df).write.mode("overwrite")
              .parquet(Paths.get(out, "warm", op.id).toString)
            None
          } catch { case e: Throwable => Some(e.toString) }
        Map("id" -> op.id, "kind" -> op.kind, "sql" -> op.sql, "agg_exprs" -> aggExprs,
          "error" -> error, "seconds" -> since(t0))
      }
      // RDDs persisted by set-up and by the warm-up pass, where memoized
      // artifacts are first built, are standing; any persisted later is
      // per-op state, unpersisted once the op's window closes
      val storage = spark.sparkContext.getRDDStorageInfo
      val artifacts = Map("persisted_rdds" -> storage.length,
        "persisted_mb" -> storage.map(r => r.memSize + r.diskSize).sum / 1048576.0)
      val standing = spark.sparkContext.getPersistentRDDs.keySet
      val heapLive = heapLiveMb()
      def scrub(): Unit = spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!standing.contains(id)) rdd.unpersist(blocking = false)
      }

      val calib = calibS()
      val load = loadavg()

      def runPass(p: Int, traced: Boolean): Seq[Map[String, Any]] =
        passOrder(wl.ops, seed, p).map { op =>
          wl.drainBoundary()
          if (traced) tracer.begin()
          val tOp = System.nanoTime()
          var tBuilt = tOp
          val error =
            try {
              val df = op.build(spark)
              tBuilt = System.nanoTime()
              df.write.format("noop").mode("overwrite").save()
              None
            } catch { case e: Throwable => Some(e.toString) }
          val tEnd = System.nanoTime()
          val rec = Map("id" -> op.id, "kind" -> op.kind, "seconds" -> (tEnd - tOp) / 1e9,
            "construct_s" -> (tBuilt - tOp) / 1e9, "error" -> error)
          val layers = if (traced) Map("layers" -> tracer.end(op, p, tOp, tBuilt, tEnd)) else Map.empty
          scrub()
          rec ++ layers
        }

      // The first noop pass after the checking warm-up still runs slower
      // than later ones (by 0.5 to 2 s on surface_small) while the JIT
      // compiles the ops' hot paths. It settles, checked for throws but
      // timed into no metric.
      val settle = runPass(-1, traced = false)
      val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
      val start = System.nanoTime()
      var p = 0
      // passes until the window is used (at least MinPasses). Starting a
      // pass whenever time is left makes the pass count depend only on
      // which multiple of the window a pass time falls in, not on small
      // run-to-run noise near one boundary.
      while (p < MinPasses || since(start) < seconds) {
        // traced first: the first timed pass still runs a little slower
        // than later ones, which biases the overhead estimate up, not down
        val traced = trace && p % 2 == 0
        val t0 = System.nanoTime()
        val recs = runPass(p, traced)
        passes += Map("index" -> p, "traced" -> traced, "seconds" -> since(t0), "ops" -> recs)
        p += 1
      }

      val result = Map(
        "seed" -> seed, "cpus" -> cpus,
        "setup_s" -> setupS, "artifacts" -> artifacts,
        "calib_s" -> calib, "load1m" -> load, "rss_peak_mb" -> rssPeakMb(),
        "heap_live_mb" -> heapLive, "codegen_classes" -> PerfbenchBridge.codegenCompiles,
        // per-family sums are reported on every workload, for the
        // families `surface_small` samples
        "families" -> Surface.small.map(Surface.family).distinct.sorted,
        "warm" -> warm, "settle" -> settle, "passes" -> passes)
      writeJson(Paths.get(out, "result.json"), result)
      if (trace) writeJson(Paths.get(out, "trace.json"), tracer.spans)
      wl.tearDown()
      spark.stop()
    }

    /** `graft.Bench`'s machine canary: a fixed CPU and shuffle task. */
    private def calibS(): Double = {
      import org.apache.spark.sql.functions.{count, lit, sum}
      val t0 = System.nanoTime()
      spark.range(0L, 8L * 1000 * 1000, 1L, 32)
        .selectExpr("id % 97 AS k", "id * 2654435761 % 1000000007 AS v")
        .groupBy("k").agg(sum("v"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
      since(t0)
    }
  }

  private def loadavg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), StandardCharsets.UTF_8)
      .split("\\s+")(0).toDouble

  /** Heap in use after a full collection, in MB: what the session
    * holds on to (standing artifacts, cached blocks, memos). Spark's
    * ContextCleaner drops shuffle and broadcast state only after a
    * collection finds it unreachable, so collect, let it run, collect. */
  def heapLiveMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(0.0)

  /** Traced passes: spans and per-layer counters of one op at a time. */
  private final class Tracer(wl: Workload) {
    private var spark: SparkSession = _
    val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
    private val qes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    private val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]
    private val c = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]
    private def add(k: String, v: Double): Unit = c.merge(k, v, (a, b) => a + b)
    @volatile private var on = false
    private var codegen0 = 0L
    // epoch microseconds of a nanoTime, for spans next to Spark's ms clocks
    private val nano0 = System.nanoTime()
    private val epochUs0 = System.currentTimeMillis() * 1000
    private def us(nanos: Long): Long = epochUs0 + (nanos - nano0) / 1000

    def install(session: SparkSession): Unit = {
      spark = session
      spark.listenerManager.register(new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = if (on) qes.add(qe)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = if (on) qes.add(qe)
      })
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (on) { jobStart.put(e.jobId, e.time); add("exec.jobs", 1) }
        override def onJobEnd(e: SparkListenerJobEnd): Unit =
          Option(jobStart.remove(e.jobId)).foreach(t => jobs.add((t, e.time)))
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          if (on) add("exec.stages", 1)
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (on && e.taskMetrics != null) {
          val m = e.taskMetrics
          add("exec.tasks", 1)
          add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
          add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
          add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
          add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
          add("exec.gc_ms", m.jvmGCTime.toDouble)
          add("exec.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        }
      })
    }

    def begin(): Unit = {
      qes.clear(); jobs.clear(); c.clear()
      codegen0 = PerfbenchBridge.codegenCompiles
      on = true
    }

    /** Close the op's trace: record its spans, return its layer counters. */
    def end(op: Op, pass: Int, t0: Long, tBuilt: Long, tEnd: Long): Map[String, Double] = {
      PerfbenchBridge.drainListenerBus(spark.sparkContext)
      on = false
      val opSpans = mutable.ArrayBuffer.empty[(String, String, Long, Long)] // layer, name, start, end (us)
      opSpans += (("op", "op", us(t0), us(tEnd)))
      opSpans += (("queries", "construct", us(t0), us(tBuilt)))
      opSpans += (("exec", "execute", us(tBuilt), us(tEnd)))
      val qeList = Iterator.continually(qes.poll()).takeWhile(_ != null).toSeq
      for (qe <- qeList; (phase, s) <- qe.tracker.phases if phase != "parsing") {
        opSpans += (("planner", phase, s.startTimeMs * 1000, s.endTimeMs * 1000))
        add(s"planner.${phase}_ms", (s.endTimeMs - s.startTimeMs).toDouble)
      }
      Iterator.continually(jobs.poll()).takeWhile(_ != null).foreach { case (s, e) =>
        opSpans += (("exec", "job", s * 1000, e * 1000)); add("exec.job_ms", (e - s).toDouble)
      }
      val boundary = wl.drainBoundary()
      boundary.foreach { b =>
        opSpans += ((b.layer, b.kind, us(b.startNs), us(b.endNs)))
        val ms = (b.endNs - b.startNs) / 1e6
        if (b.layer == "client") {
          add(s"client.${b.kind}", 1); add("client.rest_ms", ms)
        } else {
          add("objstore.gets", 1); add("objstore.wait_ms", ms)
          add("objstore.bytes_sent_mb", b.bytes / 1048576.0)
        }
      }
      add("objstore.inflight_max", maxOverlap(boundary.filter(_.layer == "objstore")))
      val scans = qeList.flatMap(qe => collect(qe.executedPlan) { case b: BatchScanExec => b })
      scans.foreach { b =>
        val parts = b.inputPartitions.collect { case p: DeltaShareInputPartition => p }
        val cols = b.scan.readSchema().fieldNames.toSeq
        add("scan.files_planned", parts.size)
        add("scan.files_listed", wl.filesListed)
        add("objstore.bytes_needed_mb", parts.map(p => wl.bytesNeeded(p.url, cols)).sum / 1048576.0)
      }
      if (scans.nonEmpty) add("scan.scans", scans.size)
      add("exec.codegen_compiles", (PerfbenchBridge.codegenCompiles - codegen0).toDouble)
      add("planner.construct_ms", (tBuilt - t0) / 1e6)
      val base = spans.size
      opSpans.zipWithIndex.foreach { case ((layer, name, s, e), i) =>
        spans += Map("id" -> (base + i), "op" -> op.id, "pass" -> pass, "layer" -> layer,
          "name" -> name, "start_us" -> s, "end_us" -> e,
          "parent" -> parentOf(opSpans.toSeq, i).map(_ + base))
      }
      selfTimes(opSpans.toSeq).foreach { case (layer, ms) => add(s"self.${layer}_ms", ms) }
      import scala.jdk.CollectionConverters._
      c.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
    }
  }

  /** Index of the shortest other span that contains span `i`; spans
    * are (layer, name, start, end), the op span (index 0) contains all. */
  def parentOf(spans: Seq[(String, String, Long, Long)], i: Int): Option[Int] = {
    val (_, _, s, e) = spans(i)
    spans.indices.filter { j =>
      j != i && spans(j)._3 <= s && e <= spans(j)._4 &&
        // equal intervals: the earlier-listed span is the parent
        (spans(j)._3 != s || spans(j)._4 != e || j < i)
    }.sortBy(j => (spans(j)._4 - spans(j)._3, -j)).headOption
  }

  /** Per layer, the span time its child spans do not cover, in ms. */
  def selfTimes(spans: Seq[(String, String, Long, Long)]): Map[String, Double] = {
    val children = spans.indices.groupBy(i => parentOf(spans, i))
    spans.indices.groupBy(i => spans(i)._1).map { case (layer, is) =>
      layer -> is.map { i =>
        val (_, _, s, e) = spans(i)
        val kids = children.getOrElse(Some(i), Nil).map(j => (spans(j)._3, spans(j)._4)).sortBy(_._1)
        var covered = 0L
        var (cs, ce) = (Long.MinValue, Long.MinValue)
        kids.foreach { case (ks, ke) =>
          if (ks > ce) { if (ce > cs) covered += ce - cs; cs = ks; ce = ke }
          else ce = math.max(ce, ke)
        }
        if (ce > cs) covered += ce - cs
        (e - s - covered) / 1000.0
      }.sum
    }
  }

  /** Most GETs in flight at once. */
  def maxOverlap(spans: Seq[BoundarySpan]): Double =
    spans.flatMap(b => Seq((b.startNs, 1), (b.endNs, -1))).sortBy(x => (x._1, x._2))
      .scanLeft(0)(_ + _._2).max.toDouble
}
