package graftbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.graftbench.ListenerBusAccess
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

/**
 * Benchmark harness: runs one workload's query list through graft's public
 * entry points (`SparkEntry.queries(name)(spark, dir)`), one query after
 * another, and writes what it saw to files for `run.py` to score.
 *
 * Arguments are `key=value` pairs:
 *   data      table directory
 *   tables    comma-separated tables to open at set-up
 *   queries   comma-separated query names
 *   out       output directory: result.json or trace_raw.json, oracle_sql.json,
 *             and check/<query>/ (the check pass's results as parquet)
 *   warmup    seconds of unmeasured warm passes after the cold pass
 *   seconds   measuring time; measured warm passes repeat until it is used up
 *   cpus      local[cpus] and shuffle partitions
 *   trace     1: attach listeners and record jobs, stages and batches
 *
 * Pass 0 is the cold pass: the first, JIT-cold execution of every query; it
 * builds the stores (java.io.tmpdir starts empty) and writes each result
 * for the correctness compare. Warm-up passes follow for `warmup` seconds,
 * then measured warm passes for `seconds`.
 *
 * Every query execution is construct (the catalog closure builds the
 * DataFrame), plan (force `queryExecution.executedPlan`) and execute (one
 * job over `queryExecution.toRdd`, like Bench's `count()`, that also folds
 * the rows into an order-independent checksum). The
 * engine is only called, never changed: per-layer figures come from the
 * planning tracker, a SparkListener, a StreamingQueryListener and the
 * store directories on disk.
 */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cpus = opt("cpus").toInt
    val dataDir = opt("data")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${System.getProperty("java.io.tmpdir")}/spark")
      .config("spark.sql.warehouse.dir", new File("warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.GraftFunctions.register(spark)
    opt("tables").split(",").foreach(t => graft.Tables.load(spark, dataDir, t))
    println("ready")
    System.out.flush()
    new Run(spark, opt, cpus).apply()
    spark.stop()
  }

  /** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
  }

  def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    val w = new PrintWriter(f, "UTF-8")
    try w.println(s) finally w.close()
  }
}

/**
 * Order-independent checksum of a result, computed in one job like
 * `RDD.count()`: the row count and, per column, a wrapping sum of 64-bit
 * hashes of the exact values (nulls included) and the sum and absolute sum
 * of the floating-point ones, which are compared with a tolerance because
 * their summation order is not fixed.
 */
object Checksum {
  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private val NullHash = 0x5BD1E9955BD1E995L

  private def fold(types: Array[DataType], it: Iterator[InternalRow]) = {
    val n = types.length
    val h = new Array[Long](n)
    val f, a = new Array[Double](n)
    var rows = 0L
    while (it.hasNext) {
      val r = it.next()
      var i = 0
      while (i < n) {
        if (r.isNullAt(i)) h(i) += NullHash
        else types(i) match {
          case DoubleType => val d = r.getDouble(i); f(i) += d; a(i) += math.abs(d)
          case FloatType => val d = r.getFloat(i).toDouble; f(i) += d; a(i) += math.abs(d)
          case t => r.get(i, t) match {
            case v: java.lang.Number => h(i) += mix(v.longValue)
            case v: java.lang.Boolean => h(i) += mix(if (v) 1L else 2L)
            case v: Array[Byte] => h(i) += mix(java.util.Arrays.hashCode(v).toLong)
            case v => h(i) += mix(v.hashCode.toLong)
          }
        }
        i += 1
      }
      rows += 1
    }
    (rows, h, f, a)
  }

  def apply(rdd: RDD[InternalRow], schema: StructType): Map[String, Any] = {
    val types = schema.fields.map(_.dataType match {
      case u: UserDefinedType[_] => u.sqlType
      case t => t
    })
    val parts = rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => fold(types, it))
    val n = types.length
    Map("rows" -> parts.map(_._1).sum,
      "hash" -> (0 until n).map(i => parts.map(_._2(i)).sum),
      "sum" -> (0 until n).map(i => parts.map(_._3(i)).sum),
      "abs" -> (0 until n).map(i => parts.map(_._4(i)).sum))
  }
}

/** Per-stage aggregate of its finished tasks. */
final class StageAgg(val stageId: Int, val jobId: Int) {
  var submitted, completed = 0L
  var tasks, failedTasks = 0
  var busyMs, runMs, cpuNs, schedMs, gcMs = 0L
  var shuffleWrite, shuffleRead, spill, input = 0L
  val durations = ArrayBuffer[Long]()
  def toMap: Map[String, Any] = {
    val d = durations.sorted
    Map("stage" -> stageId, "job" -> jobId, "start" -> submitted, "end" -> completed,
      "tasks" -> tasks, "failed_tasks" -> failedTasks, "busy_ms" -> busyMs,
      "run_ms" -> runMs, "cpu_ns" -> cpuNs, "sched_ms" -> schedMs, "gc_ms" -> gcMs,
      "shuffle_write" -> shuffleWrite, "shuffle_read" -> shuffleRead,
      "spill" -> spill, "input" -> input,
      "max_task_ms" -> (if (d.isEmpty) 0L else d.last),
      "median_task_ms" -> (if (d.isEmpty) 0L else d(d.size / 2)))
  }
}

/** Records jobs, stages (with their tasks folded in) and micro-batches. */
final class Recorder extends SparkListener {
  val jobs = ArrayBuffer[Map[String, Any]]()
  private val jobStart = collection.mutable.Map[Int, (Long, Seq[Int])]()
  private val stageJob = collection.mutable.Map[Int, Int]()
  private val stages = collection.mutable.LinkedHashMap[(Int, Int), StageAgg]()
  val batches = ArrayBuffer[Map[String, Any]]()

  private def agg(stageId: Int, attempt: Int) =
    stages.getOrElseUpdate((stageId, attempt), new StageAgg(stageId, stageJob.getOrElse(stageId, -1)))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = (e.time, e.stageIds)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val (start, stageIds) = jobStart.remove(e.jobId).getOrElse((e.time, Nil))
    jobs += Map("job" -> e.jobId, "start" -> start, "end" -> e.time,
      "stages" -> stageIds, "ok" -> (e.jobResult == JobSucceeded))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val a = agg(i.stageId, i.attemptNumber())
    a.submitted = i.submissionTime.getOrElse(0L)
    a.completed = i.completionTime.getOrElse(0L)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = agg(e.stageId, e.stageAttemptId)
    val info = e.taskInfo
    val dur = info.finishTime - info.launchTime
    a.tasks += 1
    if (!info.successful) a.failedTasks += 1
    a.busyMs += dur
    a.durations += dur
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.schedMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime)
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.spill += m.diskBytesSpilled
      a.input += m.inputMetrics.bytesRead
    }
  }

  /** Hands over everything recorded so far and starts afresh. */
  def drain(): (Seq[Map[String, Any]], Seq[Map[String, Any]], Seq[Map[String, Any]]) = synchronized {
    val out = (jobs.toList, stages.values.map(_.toMap).toList, batches.toList)
    jobs.clear(); stages.clear(); batches.clear()
    out
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Recorder.this.synchronized {
        val p = e.progress
        batches += Map("start" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
          "batch_ms" -> p.batchDuration, "input_rows" -> p.numInputRows)
      }
  }
}

final class Run(spark: SparkSession, opt: Map[String, String], cpus: Int) {
  import Harness.{json, write}

  private val out = new File(opt("out"))
  private val names = opt("queries").split(",").toSeq.filter(_.nonEmpty)
  private val seconds = opt("seconds").toDouble
  private val warmup = opt("warmup").toDouble
  private val traced = opt("trace") == "1"
  private val tmp = new File(System.getProperty("java.io.tmpdir"))
  private val recorder = new Recorder
  // the timings use nanoTime; listener events carry epoch millis
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  private def epochMs(nano: Long): Double = epochMs0 + (nano - nano0) / 1e6

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** storedOnce's directories under this JVM's tmpdir (and their staging twins). */
  private def storeDirs: Seq[File] =
    Option(tmp.listFiles()).toSeq.flatten.filter(f => f.isDirectory && f.getName.startsWith("graft_"))

  private def files(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(files) else Seq(f)

  /** Drops a query's persisted intermediates, as Bench does between queries. */
  private def cleanup(): Unit = {
    try spark.sharedState.cacheManager.clearCache() catch { case _: Throwable => }
    try spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    catch { case _: Throwable => }
  }

  /** One timed execution: construct, plan, execute. The cold pass's execute
    * writes the result as parquet (for the correctness compare) instead of
    * checksumming it, and forces no separate plan. */
  private def execute(name: String, dir: String, pass: Int, cold: Boolean): Map[String, Any] = {
    val t0 = System.nanoTime()
    var t1, t2 = t0
    var sum: Option[Map[String, Any]] = None
    var error: Option[String] = None
    var tracker: Option[org.apache.spark.sql.catalyst.QueryPlanningTracker] = None
    try {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      t1 = System.nanoTime()
      if (cold) {
        t2 = t1
        df.coalesce(1).write.mode("overwrite").parquet(new File(out, s"check/$name").getPath)
      } else {
        val qe = df.queryExecution
        qe.executedPlan
        t2 = System.nanoTime()
        sum = Some(Checksum(qe.toRdd, df.schema))
        tracker = Some(qe.tracker)
      }
    } catch { case e: Throwable =>
      error = Some(e.toString)
      System.err.println(s"[graftbench] $name failed: $e")
    }
    val t3 = System.nanoTime()
    if (t1 == t0) t1 = t3
    if (t2 == t0) t2 = t3
    cleanup()
    val base = Map[String, Any]("query" -> name, "pass" -> pass,
      "start" -> epochMs(t0), "construct_end" -> epochMs(t1), "plan_end" -> epochMs(t2),
      "end" -> epochMs(t3), "wall_s" -> (t3 - t0) / 1e9, "construct_s" -> (t1 - t0) / 1e9,
      "plan_s" -> (t2 - t1) / 1e9, "exec_s" -> (t3 - t2) / 1e9,
      "rows" -> sum.map(_("rows")).getOrElse(-1L), "checksum" -> sum, "error" -> error)
    if (!traced) base
    else base ++ tracker.map { t =>
      Map("phases" -> t.phases.map { case (k, v) => k -> v.durationMs },
        "rules" -> t.rules.collect { case (k, v) if k.startsWith("graft.") =>
          k.stripPrefix("graft.plans.") -> Map("ns" -> v.totalTimeNs,
            "invocations" -> v.numInvocations, "effective" -> v.numEffectiveInvocations)
        })
    }.getOrElse(Map.empty)
  }

  private def pass(index: Int, dir: String, kind: String): Map[String, Any] = {
    val cold = kind == "cold"
    val gc0 = gcMs
    val t0 = System.nanoTime()
    val qs = names.map(n => execute(n, dir, index, cold))
    val t1 = System.nanoTime()
    val gc = gcMs - gc0
    var p = Map[String, Any]("kind" -> kind, "pass" -> index,
      "start" -> epochMs(t0), "end" -> epochMs(t1), "wall_s" -> (t1 - t0) / 1e9,
      "gc_s" -> gc / 1e3, "queries" -> qs)
    if (traced) {
      ListenerBusAccess.drain(spark.sparkContext)
      val (jobs, stages, batches) = recorder.drain()
      p ++= Map("jobs" -> jobs, "stages" -> stages, "batches" -> batches)
    }
    p
  }

  def apply(): Unit = {
    val dir = opt("data")
    write(new File(out, "oracle_sql.json"),
      json(names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _)).toMap))
    if (traced) {
      spark.sparkContext.addSparkListener(recorder)
      spark.streams.addListener(recorder.streaming)
    }
    val passes = ArrayBuffer(pass(0, dir, "cold"))
    val fs = storeDirs.flatMap(files)
    val store = Map("store_bytes" -> fs.map(_.length).sum, "store_files" -> fs.size)
    // the cold results read back, in the form every warm execution must match
    val coldChecksums = names.flatMap { n =>
      val f = new File(out, s"check/$n")
      if (!f.isDirectory) None
      else try {
        val df = spark.read.parquet(f.getPath)
        Some(n -> Checksum(df.queryExecution.toRdd, df.schema))
      } catch { case e: Throwable =>
        System.err.println(s"[graftbench] $n: cold result unreadable: $e")
        None
      }
    }.toMap
    // unmeasured warm passes first: the JIT keeps speeding a pass up for
    // several passes, and the measured medians should not depend on how
    // many passes of that ramp land in the window
    var i = 1
    val w0 = System.nanoTime()
    while ((System.nanoTime() - w0) / 1e9 < warmup) {
      passes += pass(i, dir, "warmup")
      i += 1
    }
    val t0 = System.nanoTime()
    while ((System.nanoTime() - t0) / 1e9 < seconds) {
      passes += pass(i, dir, "warm")
      i += 1
    }
    val hwm = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong / 1024.0).getOrElse(0.0)
    val result = Map("cpus" -> cpus, "traced" -> traced, "store" -> store,
      "cold_checksums" -> coldChecksums,
      "peak_rss_mb" -> hwm, "passes" -> passes)
    write(new File(out, if (traced) "trace_raw.json" else "result.json"), json(result))
  }
}
