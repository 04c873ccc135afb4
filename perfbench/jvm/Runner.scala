package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One benchmark run in a fresh JVM: session start, layouts, then one
  * closed-loop pass over the named queries in the given order.
  *
  * Everything is measured from outside the program: the runner times its
  * calls into `graft.Bench.configure`, `graft.sources.Layouts.inventory`,
  * `GraftQuery.run` and the noop write, and (with `--mode trace`) reads
  * Spark's listener events, attributed by the job group it sets to the
  * query name. It writes JSON lines to `<out>/records.jsonl` and, when
  * tracing, spans to `<out>/spans.jsonl`; `run.py` turns them into metrics.
  *
  * Modes: `prepare` builds the layouts and exits; `time` runs one pass;
  * `trace` runs one pass with the listener; `select` runs two traced
  * passes and records which layout roots each query's plans read.
  *
  * Usage: Runner <mode> <sfDir> <cores> <queriesFile> <outDir> <deadlineS> <layouts>
  * where the queries file names one query per line, or holds `all`, and
  * `layouts` is `all` or a comma-separated list of inventory entries.
  */
object Runner {
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble
  /** Wall clock in epoch ms with sub-ms resolution, comparable to the
    * listener's event times. */
  def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

  private val ids = new AtomicInteger(0)
  val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  def span[T](name: String, parent: Int)(body: Int => T): T = {
    val id = ids.incrementAndGet()
    val t0 = nowMs
    try body(id) finally spans.add(Span(id, parent, name, t0, nowMs))
  }

  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    val s = v match {
      case x: String => js(x)
      case x: Double => if (x.isNaN || x.isInfinite) "null" else x.toString
      case x: Iterable[_] => x.map(e => js(e.toString)).mkString("[", ",", "]")
      case x => x.toString
    }
    js(k) + ":" + s
  }.mkString("{", ",", "}")

  /** Per-job-group totals read from listener events. */
  final class Acc {
    var jobs, stages, tasks, tasksFailed, sqlExecs = 0L
    var runMs, cpuNs, gcMs, deserMs, delayMs = 0L
    var shRead, shWrite, spill = 0L
    var analysisMs, optimizationMs, planningMs = 0L
    val roots = mutable.SortedSet[String]()
    def fields: Seq[(String, Any)] = Seq(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "tasks_failed" -> tasksFailed, "sql_execs" -> sqlExecs,
      "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "deser_ms" -> deserMs, "delay_ms" -> delayMs,
      "shuffle_read_b" -> shRead, "shuffle_write_b" -> shWrite,
      "spill_b" -> spill, "analysis_ms" -> analysisMs,
      "optimization_ms" -> optimizationMs, "planning_ms" -> planningMs,
      "layout_roots" -> roots.toSeq)
  }

  /** Attributes every job, stage, task and SQL execution to the job group
    * that was set when it started; no counter is ever zeroed. */
  final class Probe(rootPattern: Option[scala.util.matching.Regex]) extends SparkListener {
    private val accs = new ConcurrentHashMap[String, Acc]()
    /** job group -> id of the span that encloses its jobs */
    val parentOf = new ConcurrentHashMap[String, Integer]()
    private val jobGroup = mutable.Map[Int, String]()
    private val jobSpan = mutable.Map[Int, (Int, Double)]()
    private val stageJob = mutable.Map[Int, Int]()
    private val execGroup = mutable.Map[Long, String]()

    def acc(g: String): Acc = accs.computeIfAbsent(g, _ => new Acc)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SparkContextJobGroup))).getOrElse("")
      jobGroup(e.jobId) = g
      jobSpan(e.jobId) = (ids.incrementAndGet(), e.time.toDouble)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
      acc(g).jobs += 1
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobSpan.get(e.jobId).foreach { case (id, t0) =>
        val g = jobGroup.getOrElse(e.jobId, "")
        spans.add(Span(id, Option(parentOf.get(g)).map(_.toInt).getOrElse(0),
          "job", t0, e.time.toDouble))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val info = e.stageInfo
      val job = stageJob.getOrElse(info.stageId, -1)
      acc(jobGroup.getOrElse(job, "")).stages += 1
      for (t0 <- info.submissionTime; t1 <- info.completionTime)
        spans.add(Span(ids.incrementAndGet(), jobSpan.get(job).map(_._1).getOrElse(0),
          "stage", t0.toDouble, t1.toDouble))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = acc(jobGroup.getOrElse(stageJob.getOrElse(e.stageId, -1), ""))
      a.tasks += 1
      if (!e.taskInfo.successful) a.tasksFailed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.deserMs += m.executorDeserializeTime
        a.delayMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          e.taskInfo.gettingResultTime)
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          val g = s.jobGroupId.getOrElse("")
          execGroup(s.executionId) = g
          val a = acc(g)
          a.sqlExecs += 1
          rootPattern.foreach(_.findAllMatchIn(s.physicalPlanDescription)
            .foreach(m => a.roots += m.group(1)))
        case x: SparkListenerSQLExecutionEnd =>
          val a = acc(execGroup.getOrElse(x.executionId, ""))
          val ph = org.apache.spark.sql.perfbench.Shim.phases(x)
          a.analysisMs += ph.getOrElse("analysis", 0L)
          a.optimizationMs += ph.getOrElse("optimization", 0L)
          a.planningMs += ph.getOrElse("planning", 0L)
        case _ => ()
      }
    }
  }

  private val SparkContextJobGroup = "spark.jobGroup.id"

  /** Folds the query's output into its check digest as it is written:
    * row count and the unordered sum of per-row xxhash64 values, split in
    * two 32-bit halves so the long sums cannot overflow. Columns are
    * renamed by position so duplicate output names stay addressable. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    val fields = df.schema.fields.toSeq
    val renamed = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cols = fields.zipWithIndex.map { case (f, i) =>
      if (hasMap(f.dataType)) to_json(col(s"c$i")) else col(s"c$i")
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    renamed.observe(obs, count(lit(1)).as("rows"),
      sum(shiftrightunsigned(h, 32)).as("hi"),
      sum(h.bitwiseAND(0xffffffffL)).as("lo"))
  }

  def layoutBytes(tmp: File): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = Option(tmp.listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("graft_")).flatMap(walk)
    (files.map(_.length).sum, files.size.toLong)
  }

  def main(args: Array[String]): Unit = {
    val Array(mode, sfDir, cores, queriesFile, outDir, deadlineS, layouts) = args
    require(Set("prepare", "time", "trace", "select")(mode), s"unknown mode $mode")
    val catalog = graft.SparkEntry.queries
    val listed = scala.io.Source.fromFile(queriesFile).getLines()
      .map(_.trim).filter(_.nonEmpty).toVector
    val names = if (listed == Vector("all")) catalog.keys.toVector.sorted else listed
    val unknown = names.filterNot(catalog.contains)
    if (unknown.nonEmpty) {
      System.err.println(s"[perfbench] unknown query name(s): ${unknown.mkString(", ")}")
      sys.exit(3)
    }
    // a query's catalog module is the object that defines its `run` lambda
    val module: Map[String, String] = graft.queries.Catalog.all.map { q =>
      val cls = q.run.getClass.getName
      val i = cls.indexOf("$Lambda")
      q.name -> (if (i < 0) "unknown" else cls.take(i).split('.').last.replaceAll("\\$+$", ""))
    }.toMap
    new File(outDir).mkdirs()
    val out = new PrintWriter(new File(outDir, "records.jsonl"), "UTF-8")
    def emit(kv: (String, Any)*): Unit = { out.println(obj(kv: _*)); out.flush() }
    val tmp = new File(sys.props("java.io.tmpdir"))
    val traced = mode == "trace" || mode == "select"
    val probe = if (!traced) None else Some(new Probe(
      if (mode == "select")
        Some(("\\Q" + tmp.getAbsolutePath + "\\E/(graft_[A-Za-z0-9_]+)/").r)
      else None))

    span("run", 0) { runId =>
      val spark = span("setup", runId) { setupId =>
        val spark = span("harness.session", setupId) { _ =>
          graft.Bench.configure(
            SparkSession.builder().master(s"local[$cores]"), cores).getOrCreate()
        }
        spark.sparkContext.setLogLevel("ERROR")
        probe.foreach(spark.sparkContext.addSparkListener)
        val wanted = layouts.split(",").toSet
        val missing = wanted - "all" -- graft.sources.Layouts.inventory.map(_._1)
        if (missing.nonEmpty)
          System.err.println(s"[perfbench] not in Layouts.inventory: ${missing.mkString(", ")}")
        for ((entry, build) <- graft.sources.Layouts.inventory
             if layouts == "all" || wanted(entry)) {
          val name = s"sources.$entry"
          span(name, setupId) { id =>
            probe.foreach(_.parentOf.put(name, id))
            spark.sparkContext.setJobGroup(name, name)
            val t0 = nowMs
            build(spark, sfDir)
            emit("kind" -> "layout", "name" -> entry, "s" -> (nowMs - t0) / 1e3)
          }
        }
        spark.sparkContext.clearJobGroup()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        spark.catalog.clearCache()
        spark
      }
      val (bytes, files) = layoutBytes(tmp)
      emit("kind" -> "setup_done", "epoch_ms" -> nowMs,
        "layout_bytes" -> bytes, "layout_files" -> files)
      val sc = spark.sparkContext
      val passes = mode match { case "prepare" => 0; case "select" => 2; case _ => 1 }
      for (p <- 1 to passes) span("pass", runId) { passId =>
        val passStart = nowMs
        for (name <- names) {
          if (nowMs - passStart > deadlineS.toDouble * 1e3) {
            System.err.println(s"[perfbench] pass exceeded its ${deadlineS}s deadline")
            sys.exit(4)
          }
          val group = if (passes > 1) s"$p:$name" else name
          span("query", passId) { qid =>
            probe.foreach(_.parentOf.put(group, qid))
            sc.setJobGroup(group, group)
            val compileNs0 = CodeGenerator.compileTime
            val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            val obs = Observation(s"perfbench_check_$qid")
            var buildS, execS = 0.0
            var err, schema = ""
            try {
              val df = span("queries.build", qid) { _ =>
                val t0 = nowMs
                val d = catalog(name)(spark, sfDir)
                buildS = (nowMs - t0) / 1e3
                schema = d.schema.catalogString
                d
              }
              span("queries.exec", qid) { _ =>
                val t0 = nowMs
                observed(df, obs).write.format("noop").mode("overwrite").save()
                execS = (nowMs - t0) / 1e3
              }
            } catch { case e: Throwable =>
              err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
              System.err.println(s"[perfbench] $name failed: $err")
            }
            val (rows, digest) =
              if (err.nonEmpty) (-1L, "")
              else {
                val m = obs.get
                def l(k: String): Long = Option(m(k)).map(_.toString.toLong).getOrElse(0L)
                val schemaHash = scala.util.hashing.MurmurHash3.stringHash(schema)
                (l("rows"), f"${l("rows")}:$schemaHash%08x:${l("hi")}%x:${l("lo")}%x")
              }
            val compileNs = CodeGenerator.compileTime - compileNs0
            val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
            val (ckpt, resetS) = span("harness.reset", qid) { _ =>
              val t0 = nowMs
              val rdds = sc.getPersistentRDDs.values
              rdds.foreach(_.unpersist(blocking = true))
              spark.catalog.clearCache()
              (rdds.size, (nowMs - t0) / 1e3)
            }
            sc.clearJobGroup()
            emit("kind" -> "query", "name" -> name, "pass" -> p,
              "module" -> module.getOrElse(name, "unknown"), "ok" -> err.isEmpty,
              "error" -> err, "build_s" -> buildS, "exec_s" -> execS,
              "reset_s" -> resetS, "rows" -> rows, "digest" -> digest,
              "compile_ns" -> compileNs, "compiles" -> compiles,
              "checkpointed_rdds" -> ckpt)
          }
        }
        emit("kind" -> "pass", "pass" -> p, "s" -> (nowMs - passStart) / 1e3)
      }
      probe.foreach { pr =>
        org.apache.spark.sql.perfbench.Shim.drain(sc)
        val groups = (names.flatMap(n => (1 to passes).map(p =>
          if (passes > 1) s"$p:$n" else n)) ++
          graft.sources.Layouts.inventory.map(e => s"sources.${e._1}") :+ "").distinct
        groups.foreach(g => emit(("kind" -> "counters") +: ("group" -> g) +: pr.acc(g).fields: _*))
      }
      spark.stop()
    }
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    emit("kind" -> "end", "vm_hwm_kb" -> hwm)
    out.close()
    if (traced) {
      val sw = new PrintWriter(new File(outDir, "spans.jsonl"), "UTF-8")
      spans.forEach(s => sw.println(obj("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end)))
      sw.close()
    }
  }
}
