package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one Spark session, one workload's query list driven as a
  * closed loop, then (with verify 1) graft.Verify on the same list.
  *
  *   Harness <dataDir> <outDir> <queriesFile> <trace 0|1> <clients> <verify 0|1>
  *
  * It prints `PERFBENCH_READY` once the session is built and warmed, which
  * is where the launcher stops its set-up clock. Then it takes queries in
  * file order from one shared queue; each client waits for its query's
  * result before it takes the next. A query is
  * `fn(spark, dir)` followed by `queryExecution.toRdd.count()`, the full
  * physical plan. With trace 1 the same call is split into build, plan and
  * exec spans, and a listener attributes every job, stage and task to its
  * query through the job group the client sets. Everything is written to
  * `<outDir>/run.json` and `<outDir>/spans.jsonl`; the Verify dump goes to
  * `<outDir>/verify`.
  */
object Harness {
  private val VecKernels = Set("VecDot", "VecL2Dist", "VecL1Dist", "VecNormSq")
  private val PhaseProp = "perfbench.phase"

  /** The session recipe (perfbench/recipe.json) arrives as `spark.*`
    * system properties, which SparkConf reads. */
  def session(): SparkSession = {
    val sp = SparkSession.builder().getOrCreate()
    sp.sparkContext.setLogLevel("WARN")
    graft.Log.quietBoundedWindowWarn()
    graft.Log.quietFairPoolWarn()
    sp
  }

  /** graft.Bench's warm-up: codegen compiler, shuffle machinery, parquet. */
  def warm(sp: SparkSession, dir: String): Unit = {
    sp.range(1000000).selectExpr("sum(id)").collect()
    sp.read.parquet(s"$dir/lineitem.parquet").limit(10).collect()
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, outDir, queriesFile, trace, clients, verify) = args
    val sp = session()
    warm(sp, dir)
    val readyNs = System.nanoTime()
    val setupNs = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
    println("PERFBENCH_READY")
    System.out.flush()
    run(sp, dir, outDir, Files.readAllLines(Paths.get(queriesFile)).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty), trace == "1", clients.toInt, verify == "1",
      readyNs - setupNs, readyNs)
    sp.stop()
  }

  final class Counters {
    var jobs, stages, tasks, failedTasks = 0L
    var taskCpuNs, taskRunMs, taskWaitMs, taskGcMs = 0L
    var shuffleWrite, shuffleRead, spillDisk, spillMem, output = 0L
    def toMap: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "failed_tasks" -> failedTasks, "task_cpu_s" -> taskCpuNs / 1e9,
      "task_run_s" -> taskRunMs / 1e3, "task_wait_s" -> taskWaitMs / 1e3,
      "task_gc_s" -> taskGcMs / 1e3, "shuffle_write_bytes" -> shuffleWrite,
      "shuffle_read_bytes" -> shuffleRead, "spill_disk_bytes" -> spillDisk,
      "spill_mem_bytes" -> spillMem, "output_bytes" -> output)
  }

  /** Jobs, stages and tasks by (query id, phase). Events arrive on the
    * single listener-bus thread; read only after PerfbenchBus.drain. */
  final class Attribution extends SparkListener {
    @volatile var recording = false
    val total = new Counters
    val byKey = mutable.Map[(String, String), Counters]()
    private val stageKey = mutable.Map[Int, (String, String)]()
    private val stageSubmit = mutable.Map[(Int, Int), Long]()
    private def at(k: (String, String)) = byKey.getOrElseUpdate(k, new Counters)

    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      val p = Option(e.properties)
      val k = (p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).getOrElse("unattributed"),
        p.flatMap(x => Option(x.getProperty(PhaseProp))).getOrElse("none"))
      e.stageIds.foreach(s => stageKey.getOrElseUpdate(s, k))
      at(k).jobs += 1; total.jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = if (recording) {
      val i = e.stageInfo
      stageSubmit((i.stageId, i.attemptNumber())) = i.submissionTime.getOrElse(System.currentTimeMillis())
      at(stageKey.getOrElse(i.stageId, ("unattributed", "none"))).stages += 1
      total.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
      val k = stageKey.getOrElse(e.stageId, ("unattributed", "none"))
      val submit = stageSubmit.getOrElse((e.stageId, e.stageAttemptId), e.taskInfo.launchTime)
      Seq(at(k), total).foreach { c =>
        c.tasks += 1
        if (!e.taskInfo.successful) c.failedTasks += 1
        c.taskWaitMs += math.max(0L, e.taskInfo.launchTime - submit)
        val m = e.taskMetrics
        if (m != null) {
          c.taskCpuNs += m.executorCpuTime
          c.taskRunMs += m.executorRunTime
          c.taskGcMs += m.jvmGCTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spillDisk += m.diskBytesSpilled
          c.spillMem += m.memoryBytesSpilled
          c.output += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  final case class Span(name: String, id: String, parent: String, query: String,
      startNs: Long, endNs: Long)

  final case class QueryRec(id: String, name: String, client: Int, startNs: Long,
      endNs: Long, ok: Boolean, error: String, buildNs: Long, planNs: Long,
      execNs: Long, vecKernel: Boolean, compiles: Long, jitMs: Long)

  private def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  private def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum
  private def vmHwmKb: Long = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
    line.map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }
  private def vecKernelIn(plan: org.apache.spark.sql.execution.SparkPlan): Boolean =
    plan.exists(_.expressions.exists(_.exists(e => VecKernels(e.getClass.getSimpleName))))

  def run(sp: SparkSession, dir: String, outDir: String, names: Seq[String],
      trace: Boolean, clients: Int, verify: Boolean, jvmStartNs: Long, readyNs: Long): Unit = {
    val sc = sp.sparkContext
    val fns = graft.SparkEntry.queries
    val unknown = names.filterNot(fns.contains)
    require(unknown.isEmpty, s"not in graft.SparkEntry.queries: ${unknown.mkString(",")}")
    val attribution = new Attribution
    if (trace) {
      sc.addSparkListener(attribution)
      org.apache.spark.PerfbenchBus.drain(sc)
      attribution.recording = true
    }
    val queue = new ConcurrentLinkedQueue[(String, String)](
      names.zipWithIndex.map { case (n, i) => (f"q$i%03d", n) }.asJava)
    val recs = new ConcurrentLinkedQueue[QueryRec]()
    val cpu0 = processCpuNs; val gc0 = gcMs; val jit0 = jitMs; val cg0 = codegenCompiles
    val t0 = System.nanoTime()
    val threads = (1 to clients).map { c =>
      val th = new Thread(() => {
        var next = queue.poll()
        while (next != null) {
          val (id, name) = next
          sc.setJobGroup(id, name, interruptOnCancel = false)
          sc.setLocalProperty("spark.scheduler.pool", name)
          val cgq = codegenCompiles; val jitq = jitMs
          val s = System.nanoTime()
          var b, p = s
          var vec = false
          val err =
            try {
              if (trace) sc.setLocalProperty(PhaseProp, "build")
              val df = fns(name)(sp, dir)
              b = System.nanoTime()
              if (trace) {
                sc.setLocalProperty(PhaseProp, "plan")
                vec = vecKernelIn(df.queryExecution.executedPlan)
                p = System.nanoTime()
                sc.setLocalProperty(PhaseProp, "exec")
              } else p = b
              df.queryExecution.toRdd.count()
              null
            } catch { case e: Throwable =>
              System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
              String.valueOf(e.getMessage).take(300)
            }
          val end = System.nanoTime()
          recs.add(QueryRec(id, name, c, s, end, err == null, err, b - s, p - b, end - p,
            vec, codegenCompiles - cgq, jitMs - jitq))
          next = queue.poll()
        }
      }, s"perfbench-client-$c")
      th.start(); th
    }
    threads.foreach(_.join())
    val passNs = System.nanoTime() - t0
    val cpuNs = processCpuNs - cpu0
    val compiles = codegenCompiles - cg0
    val jit = jitMs - jit0
    val gc = gcMs - gc0
    val hwm = vmHwmKb
    // Memory the pass leaves held (pinned frames, memos, generated classes):
    // heap after a full collection plus non-heap. The pause lets Spark's
    // ContextCleaner drop what the first collection unreferenced.
    System.gc(); Thread.sleep(500); System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val heapUsed = mem.getHeapMemoryUsage.getUsed
    val nonHeapUsed = mem.getNonHeapMemoryUsage.getUsed
    if (trace) { org.apache.spark.PerfbenchBus.drain(sc); attribution.recording = false }
    val storage = sc.getRDDStorageInfo
    val pinnedBytes = storage.map(r => r.memSize + r.diskSize).sum
    val cachedRdds = sc.getPersistentRDDs.size
    val sorted = recs.asScala.toSeq.sortBy(_.id)

    // span times are seconds from the start of the timed pass
    val spans = mutable.ArrayBuffer(Span("setup", "setup", "", "", jvmStartNs - t0, readyNs - t0))
    sorted.foreach { r =>
      spans += Span("query", r.id, "", r.id, r.startNs - t0, r.endNs - t0)
      if (trace) {
        val b = r.startNs + r.buildNs; val p = b + r.planNs
        spans += Span("build", s"${r.id}.build", r.id, r.id, r.startNs - t0, b - t0)
        spans += Span("plan", s"${r.id}.plan", r.id, r.id, b - t0, p - t0)
        spans += Span("exec", s"${r.id}.exec", r.id, r.id, p - t0, r.endNs - t0)
      }
    }
    val queries = sorted.map { r =>
      val phases = Seq("build", "plan", "exec", "none").flatMap { ph =>
        attribution.byKey.get((r.id, ph)).map(c => ph -> c.toMap)
      }.toMap
      Map[String, Any]("id" -> r.id, "name" -> r.name, "client" -> r.client,
        "start_s" -> (r.startNs - t0) / 1e9, "latency_s" -> (r.endNs - r.startNs) / 1e9,
        "ok" -> r.ok, "error" -> r.error, "build_s" -> r.buildNs / 1e9,
        "plan_s" -> r.planNs / 1e9, "exec_s" -> r.execNs / 1e9,
        "vec_kernel" -> r.vecKernel, "codegen_compiles_interval" -> r.compiles,
        "jit_compile_s_interval" -> r.jitMs / 1e3, "counters" -> phases)
    }
    val unattributed = attribution.byKey.collect {
      case ((q, ph), c) if !sorted.exists(_.id == q) => s"$q/$ph" -> c.toMap
    }.toMap
    val out = Map[String, Any](
      "trace" -> trace, "clients" -> clients, "pass_s" -> passNs / 1e9,
      "process_cpu_s" -> cpuNs / 1e9, "gc_s" -> gc / 1e3, "vm_hwm_kb" -> hwm,
      "retained_heap_bytes" -> heapUsed, "retained_nonheap_bytes" -> nonHeapUsed,
      "codegen_compiles" -> compiles, "jit_compile_s" -> jit / 1e3,
      "pinned_bytes" -> pinnedBytes, "cached_rdds" -> cachedRdds,
      "totals" -> attribution.total.toMap, "unattributed" -> unattributed,
      "queries" -> queries)
    Files.createDirectories(Paths.get(outDir))
    Files.writeString(Paths.get(outDir, "run.json"), Json(out))
    Files.writeString(Paths.get(outDir, "spans.jsonl"), spans.map { s =>
      Json(Map("name" -> s.name, "id" -> s.id, "parent" -> s.parent, "query" -> s.query,
        "start_s" -> s.startNs / 1e9, "end_s" -> s.endNs / 1e9))
    }.mkString("", "\n", "\n"))
    // Correctness: graft.Verify with its query filter, in this session.
    if (verify) graft.Verify.main(Array(dir, s"$outDir/verify", names.distinct.mkString(",")))
  }

  object Json {
    def apply(v: Any): String = v match {
      case null => "null"
      case s: String => "\"" + s.flatMap {
          case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
          case '\r' => "\\r"; case '\t' => "\\t"
          case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
        } + "\""
      case b: Boolean => b.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case n: Number => n.toString
      case m: Map[_, _] => m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
      case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
      case other => apply(other.toString)
    }
  }
}
