// Benchmark harness for graft. It calls only public entry points
// (graft.SparkEntry.queries, graft.EtlMain.main) and reports raw
// measurements as JSON lines prefixed with "@@" on stdout; perfbench/run.py
// turns them into metrics and checks every result.
package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

object Out {
  private def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => q(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => q(other.toString)
  }

  def emit(fields: (String, Any)*): Unit = synchronized {
    println("@@" + render(mutable.LinkedHashMap(fields: _*)))
    Console.out.flush()
  }
}

object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Heap in use after a full collection, in MB. */
  def retainedHeapMb: Double = {
    // repeated: Spark's ContextCleaner frees shuffle and broadcast state
    // only after a collection has cleared the references it watches
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Spark's process-wide codegen counters: (seconds compiling, classes). */
  def codegen: (Double, Long) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val snap = h.getSnapshot
    val n = h.getCount
    // the reservoir keeps every sample until it holds 1028 of them
    val ms = if (snap.size >= n) snap.getValues.sum.toDouble else snap.getMean * n
    (ms / 1000.0, n)
  }
}

/** Registered in EtlMain's session with -Dspark.extraListeners: reads the
  * block manager's storage memory in use when the application ends, which
  * SparkContext.stop posts before it stops the block manager. The figure
  * holds every cache and broadcast block not freed by then, live or dead;
  * the context cleaner frees dead ones only after a GC has found them, so
  * it moves with GC timing from run to run. Only the first application of
  * the JVM is read.
  */
final class StorageAtEnd extends SparkListener {
  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    StorageAtEnd.synchronized {
      if (StorageAtEnd.mb.isNaN) StorageAtEnd.mb = org.apache.spark.PerfbenchBridge.storageMb
    }
}

object StorageAtEnd {
  @volatile var mb: Double = Double.NaN
}

/** Maps a call site (a stack in Spark's long call-site form) to the
  * graft module whose frame is nearest the action. Frames of the graft
  * package object (sealResult, fanOut, table) are skipped, so a job is
  * charged to the operator that called the helper. A call site with no
  * graft frame is the final write of a query's frame: "result".
  */
object Modules {
  def of(callSite: String): String =
    Option(callSite).getOrElse("").split("\n").iterator
      .map(_.trim.takeWhile(_ != '('))
      .filter(f => f.startsWith("graft.") && !f.startsWith("graft.package"))
      .map(module).nextOption().getOrElse("result")

  private def module(frame: String): String = frame.split('.')(1) match {
    case p @ ("sources" | "functions" | "plans" | "pipeline" | "operators" |
              "streaming") => p
    case c => c.takeWhile(_ != '$')
  }
}

/** In-process job/stage/task accounting, keyed by the "perfbench.op"
  * local property the harness sets around each op. Listener events are
  * delivered asynchronously; callers drain the bus before reading.
  */
final class Tracer extends SparkListener {
  final class OpStats {
    var jobs = 0
    var stages = 0
    var busyMs = 0L
    var shuffleWriteB = 0L
    var spillB = 0L
    var retries = 0
    val busyByModule = mutable.Map.empty[String, Long]
    val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val jobTimes = mutable.ArrayBuffer.empty[Long]
  }

  val ops = mutable.Map.empty[String, OpStats]
  private val execSite = mutable.Map.empty[Long, String]
  private val stageOp = mutable.Map.empty[Int, (String, String)]
  /** op -> (build start, build end) in epoch ms, set by the harness. */
  val buildWindow = mutable.Map.empty[String, (Long, Long)]

  /** Jobs submitted while the query function was building its frame. */
  def buildJobs(op: String): Int = buildWindow.get(op).map { case (a, b) =>
    ops.get(op).map(_.jobTimes.count(t => t >= a && t <= b)).getOrElse(0)
  }.getOrElse(0)

  private def opOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("perfbench.op")))

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      // nested executions (AQE stages, writes) carry the root's call site
      val root = s.rootExecutionId.getOrElse(s.executionId)
      execSite(s.executionId) = execSite.getOrElse(root, s.details)
    }
    case _ =>
  }

  override def onJobStart(j: SparkListenerJobStart): Unit = synchronized {
    opOf(j.properties).foreach { op =>
      val st = ops.getOrElseUpdate(op, new OpStats)
      val site = Option(j.properties.getProperty("spark.sql.execution.id"))
        .flatMap(id => execSite.get(id.toLong))
        .getOrElse(j.stageInfos.headOption.map(_.details).getOrElse(""))
      val mod = Modules.of(site)
      st.jobs += 1
      st.jobTimes += j.time
      j.stageIds.foreach(s => stageOp(s) = (op, mod))
    }
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = synchronized {
    val info = s.stageInfo
    stageOp.get(info.stageId).foreach { case (op, _) =>
      val st = ops(op)
      if (info.completionTime.isDefined && info.failureReason.isEmpty) st.stages += 1
      for (a <- info.submissionTime; b <- info.completionTime) st.stageSpans += ((a, b))
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(t.stageId).foreach { case (op, mod) =>
      val st = ops(op)
      val info = t.taskInfo
      if (info.attemptNumber > 0) st.retries += 1
      Option(t.taskMetrics).foreach { m =>
        st.busyMs += m.executorRunTime
        st.busyByModule(mod) = st.busyByModule.getOrElse(mod, 0L) + m.executorRunTime
        st.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
        st.spillB += m.diskBytesSpilled
      }
    }
  }
}

/** Runs gate queries in passes: one cold pass, WarmPasses warm-up passes,
  * then measured passes until the time budget is spent. Each op builds the
  * query's frame and writes every output column to parquet, so the result
  * can be checked after.
  *
  * Args: --queries q1=DATADIR,q2=DATADIR --out DIR --seconds S --seed N --trace 0|1
  */
object QueryRun {
  val WarmPasses = 1
  /** pass_s is a median of at least three passes. */
  val MinPasses = 3
  /** A traced run measures at least two off/on/on/off blocks. */
  val TracedMinPasses = 8

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val out = opt("out")
    val data = opt("queries").split(",").map { kv =>
      val Array(q, dir) = kv.split("=", 2); q -> dir
    }.toMap
    val names = opt("queries").split(",").map(_.takeWhile(_ != '=')).toIndexedSeq
    val budget = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val minPasses = if (trace) TracedMinPasses else MinPasses
    val rnd = new scala.util.Random(opt("seed").toLong)
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")

    val tracer = new Tracer
    var listening = false
    def listen(on: Boolean): Unit = if (on != listening) {
      org.apache.spark.PerfbenchBridge.drain(sc)
      if (on) sc.addSparkListener(tracer) else sc.removeSparkListener(tracer)
      listening = on
    }
    listen(trace)

    def cachedMb: Double =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

    def runPass(pass: Int, phase: String, traced: Boolean): Unit = {
      val order = if (pass == 0) names else rnd.shuffle(names)
      val gc0 = Jvm.gcSeconds
      val p0 = System.nanoTime()
      val passStart = System.currentTimeMillis()
      order.foreach { q =>
        val op = s"$pass:$q"
        val path = s"$out/p$pass/$q"
        sc.setLocalProperty("perfbench.op", op)
        val b0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var built = 0L
        val err = try {
          val df = graft.SparkEntry.queries(q)(spark, data(q))
          built = System.nanoTime()
          tracer.synchronized { tracer.buildWindow(op) = (b0, System.currentTimeMillis()) }
          df.write.mode(SaveMode.Overwrite).parquet(path)
          None
        } catch { case e: Throwable => Some(e.toString.take(300)) }
        val t1 = System.nanoTime()
        sc.setLocalProperty("perfbench.op", null)
        Out.emit("ev" -> "op", "pass" -> pass, "phase" -> phase, "q" -> q, "path" -> path,
          "s" -> (t1 - t0) / 1e9,
          "build_s" -> (if (built > 0) (built - t0) / 1e9 else Double.NaN),
          "traced" -> traced, "err" -> err,
          "cached_mb" -> (if (traced) cachedMb else Double.NaN))
      }
      val wall = (System.nanoTime() - p0) / 1e9
      Out.emit("ev" -> "pass", "pass" -> pass, "phase" -> phase, "s" -> wall,
        "traced" -> traced,
        "start_ms" -> passStart, "end_ms" -> System.currentTimeMillis(),
        "gc_s" -> (Jvm.gcSeconds - gc0))
    }

    runPass(0, "cold", trace)
    val (cgS, cgN) = Jvm.codegen
    Out.emit("ev" -> "cold", "s" -> (System.currentTimeMillis() - jvmStart) / 1000.0,
      "codegen_s" -> cgS, "codegen_classes" -> cgN)
    for (p <- 1 to WarmPasses) runPass(p, "warm", trace)
    Out.emit("ev" -> "setup", "s" -> (System.currentTimeMillis() - jvmStart) / 1000.0)

    // measured passes: the traced run switches the listener off/on/on/off
    // in whole blocks, so the tracing overhead is measured within one
    // process and passes still getting faster favour neither side
    val steady0 = System.nanoTime()
    var n = 0
    while (n < minPasses || (System.nanoTime() - steady0) / 1e9 < budget ||
           (trace && n % 4 != 0)) {
      val traced = trace && (n % 4 == 1 || n % 4 == 2)
      listen(traced)
      runPass(WarmPasses + 1 + n, "steady", traced)
      n += 1
    }
    if (trace) {
      org.apache.spark.PerfbenchBridge.drain(sc)
      tracer.synchronized {
        tracer.ops.foreach { case (op, st) =>
          val Array(p, q) = op.split(":", 2)
          Out.emit("ev" -> "opstats", "pass" -> p.toInt, "q" -> q,
            "jobs" -> st.jobs, "build_jobs" -> tracer.buildJobs(op), "stages" -> st.stages,
            "busy_s" -> st.busyMs / 1000.0,
            "shuffle_write_b" -> st.shuffleWriteB, "spill_b" -> st.spillB,
            "retries" -> st.retries,
            "busy_by_module" -> st.busyByModule.map { case (k, v) => k -> v / 1000.0 },
            "stage_spans" -> st.stageSpans.map { case (a, b) => Seq(a, b) })
        }
      }
    }
    Out.emit("ev" -> "end", "heap_mb" -> Jvm.retainedHeapMb, "gc_s" -> Jvm.gcSeconds)
    spark.stop()
  }
}

/** One EtlMain CLI invocation, then the figures EtlMain itself does not
  * print: its wall time from JVM start, GC time, codegen counters, the
  * heap retained after a full collection once EtlMain has returned, and
  * the storage memory in use when its session ended (read by StorageAtEnd,
  * which the caller registers).
  *
  * Args: the EtlMain arguments, optionally preceded by
  * --probe-transform, which afterwards times BankEtl.transform on each
  * entity's staged frame, written to a noop sink (staging is cached first
  * and not timed).
  */
object EtlOp {
  def main(args: Array[String]): Unit = {
    val probe = args.headOption.contains("--probe-transform")
    val etlArgs = if (probe) args.tail else args
    graft.EtlMain.main(etlArgs)
    val s = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val (cgS, cgN) = Jvm.codegen
    Out.emit("ev" -> "etl_end", "s" -> s, "gc_s" -> Jvm.gcSeconds,
      "heap_mb" -> Jvm.retainedHeapMb, "storage_end_mb" -> StorageAtEnd.mb,
      "codegen_s" -> cgS, "codegen_classes" -> cgN)
    if (probe) Out.emit("ev" -> "transform", "s" -> transformSeconds(etlArgs(0), etlArgs(2)))
  }

  private def transformSeconds(csv: String, batchDate: String): Double = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.eventLog.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val total = graft.pipeline.BankEtl.schemas.map { e =>
      val staged = graft.pipeline.BankEtl.extract(spark, s"$csv/${e.name}*.csv", e)
        .data.cache()
      staged.count()
      val t0 = System.nanoTime()
      graft.pipeline.BankEtl.transform(e.name, staged, batchDate)
        .write.format("noop").mode(SaveMode.Overwrite).save()
      val s = (System.nanoTime() - t0) / 1e9
      staged.unpersist()
      s
    }.sum
    spark.stop()
    total
  }
}

/** Prints SparkEntry.oracleSql for the named queries as one JSON line. */
object OracleDump {
  def main(args: Array[String]): Unit = {
    val all = graft.SparkEntry.oracleSql
    Out.emit(args.map(q => q -> all(q)).toIndexedSeq: _*)
  }
}

