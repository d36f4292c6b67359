package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** JVM side of the benchmark: runs one query mix through the public
  * `graft.SparkEntry.queries` calls and writes what it measured as JSON
  * for `perfbench/run.py`, which turns it into metrics.
  *
  * Phases, in order, all in one SparkSession:
  *   1. set-up: start the SparkSession in the cold JVM and make one pass
  *      over the mix, writing each result as parquet (the oracle's "first
  *      execution");
  *   2. `warmups` untimed passes through the `noop` sink, so that the JIT
  *      has settled before the timed region;
  *   3. timed passes through the `noop` sink: at least `timed-passes`,
  *      and whole passes until `seconds` have passed; then the retained
  *      heap;
  *   4. a check pass that writes each result as parquet (the oracle's
  *      "last execution");
  *   5. with `trace=1`: one pass with listeners attached, its events
  *      written as JSONL, then one untraced pass to compare it with.
  *
  * Each pass runs the mix in an order drawn from `seed`.
  */
object Main {
  final case class Exec(q: String, s: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val mix = o("mix").split(",").toSeq
    val sfDir = o("sf-dir")
    val work = new File(o("work"))
    val seconds = o("seconds").toDouble
    val warmups = o("warmups").toInt
    val timedPasses = o("timed-passes").toInt
    val trace = o("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val rng = new Random(o("seed").toLong)
    val failures = ArrayBuffer[(String, String, String)]()
    var executions = 0

    def session(): SparkSession = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .config("spark.hadoop.hadoop.tmp.dir", new File(work, "tmp").getAbsolutePath)
      .getOrCreate()

    /** One execution: build the DataFrame and run it into `sink`; a
      * failure is recorded and returns false. */
    def exec(spark: SparkSession, q: String, phase: String,
        sink: DataFrame => Unit): Boolean =
      try { executions += 1; sink(graft.SparkEntry.queries(q)(spark, sfDir)); true }
      catch {
        case NonFatal(e) =>
          failures += ((q, phase, s"${e.getClass.getName}: ${e.getMessage}".take(300)))
          false
      }
    val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()
    def dump(dir: String, q: String): DataFrame => Unit =
      _.write.mode("overwrite").parquet(new File(work, s"check/$dir/$q").getAbsolutePath)

    /** One pass over the mix in a fresh seeded order. */
    def pass(spark: SparkSession, phase: String,
        sink: String => DataFrame => Unit = _ => noop,
        around: (Int, String) => Unit = (_, _) => ()): (Double, Seq[Exec]) = {
      val t0 = System.nanoTime()
      val execs = rng.shuffle(mix).zipWithIndex.map { case (q, i) =>
        around(i, q)
        val s = System.nanoTime()
        val ok = exec(spark, q, phase, sink(q))
        Exec(q, (System.nanoTime() - s) / 1e9, ok)
      }
      ((System.nanoTime() - t0) / 1e9, execs)
    }

    // 1. set-up
    val t0 = System.nanoTime()
    val spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    pass(spark, "setup", q => dump("first", q))
    val setupTime = (System.nanoTime() - t0) / 1e9

    // 2. warm-up
    val warmupTimes = (0 until warmups).map(_ => pass(spark, "warmup")._1)

    // 3. timed region
    val passes = ArrayBuffer[(Double, Seq[Exec])]()
    val t1 = System.nanoTime()
    while (passes.size < timedPasses || (System.nanoTime() - t1) / 1e9 < seconds)
      passes += pass(spark, "timed")
    val heapMb = retainedHeapMb()

    // 4. check pass
    pass(spark, "check", q => dump("last", q))

    // 5. traced pass, and the untraced pass its overhead is measured against
    var tracedWall, controlWall = Double.NaN
    if (trace) {
      val tr = new Tracer
      spark.sparkContext.addSparkListener(tr)
      spark.listenerManager.register(tr)
      tracedWall = pass(spark, "traced",
        sink = _ => df => { val t = tr.now(); noop(df); tr.executed(t) },
        around = (i, q) => tr.startQuery(i, q, spark))._1
      tr.quiesce()
      spark.sparkContext.removeSparkListener(tr)
      spark.listenerManager.unregister(tr)
      tr.write(new File(work, "trace.jsonl"))
      controlWall = pass(spark, "control")._1
    }

    val oracle = graft.SparkEntry.oracleSql
    val out = new PrintWriter(new File(work, "jvm.json"), "UTF-8")
    out.print(Json.obj(
      "cores" -> cores,
      "setup_s" -> setupTime,
      "warmup_s" -> warmupTimes,
      "passes" -> passes.map { case (wall, execs) => Json.obj(
        "wall" -> wall,
        "execs" -> execs.map(e => Json.obj("q" -> e.q, "s" -> e.s, "ok" -> e.ok))) },
      "heap_retained_mb" -> heapMb,
      "traced_pass_s" -> tracedWall,
      "control_pass_s" -> controlWall,
      "executions" -> executions,
      "failures" -> failures.map { case (q, p, e) =>
        Json.obj("q" -> q, "phase" -> p, "error" -> e) },
      "oracle_sql" -> Json.obj(mix.flatMap(q => oracle.get(q).map(q -> _)): _*)))
    out.close()
    spark.stop()
  }

  /** Heap in use after full collections, in MB. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(50) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Collects spans for the traced pass. The benchmark's own spans
  * (query, build, exec) come from the caller; plan phases from the
  * action's `QueryPlanningTracker`; jobs, tasks and block updates from
  * the listener bus. Everything stays in memory and is written at the
  * end, one JSON object per line, times in epoch ms. */
class Tracer extends SparkListener with QueryExecutionListener {
  private val events = new ConcurrentLinkedQueue[Json.Raw]()
  private val stageQuery = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val ownJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val nanoAnchor = System.nanoTime()
  private val msAnchor = System.currentTimeMillis().toDouble
  @volatile private var current: (String, Double) = ("", 0.0)

  def now(): Double = msAnchor + (System.nanoTime() - nanoAnchor) / 1e6
  private def emit(kv: (String, Any)*): Unit = events.add(Json.obj(kv: _*))

  def startQuery(i: Int, name: String, spark: SparkSession): Unit = {
    val id = i.toString
    spark.sparkContext.setLocalProperty("perfbench.query", id)
    current = (id, now())
    emit("k" -> "query", "id" -> id, "name" -> name)
  }

  /** Closes the current query's spans: `build` is the `SparkEntry` call,
    * `exec` the sink call that started at `execStart`. */
  def executed(execStart: Double): Unit = {
    val (id, t0) = current
    val t1 = now()
    emit("k" -> "span", "span" -> "query", "id" -> id, "t0" -> t0, "t1" -> t1)
    emit("k" -> "span", "span" -> "build", "id" -> id, "t0" -> t0, "t1" -> execStart)
    emit("k" -> "span", "span" -> "exec", "id" -> id, "t0" -> execStart, "t1" -> t1)
  }

  /** Waits until the listener bus has delivered every job end. */
  def quiesce(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1
    while (System.nanoTime() < deadline && (!ownJobs.isEmpty || events.size != last)) {
      last = events.size
      Thread.sleep(200)
    }
  }

  def write(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    events.asScala.foreach(w.println)
    w.close()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val id = Option(e.properties).map(_.getProperty("perfbench.query")).orNull
    if (id != null) {
      ownJobs.add(e.jobId)
      e.stageIds.foreach(s => stageQuery.put(s, id))
      emit("k" -> "job_start", "id" -> id, "job" -> e.jobId, "t" -> e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (ownJobs.remove(e.jobId)) {
      emit("k" -> "job_end", "job" -> e.jobId, "t" -> e.time)
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = stageQuery.get(e.stageInfo.stageId)
    if (id != null) emit("k" -> "stage", "id" -> id, "stage" -> e.stageInfo.stageId,
      "tasks" -> e.stageInfo.numTasks)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val id = stageQuery.get(e.stageId)
    val m = e.taskMetrics
    if (id != null && m != null) emit(
      "k" -> "task", "id" -> id,
      "wall_ms" -> e.taskInfo.duration,
      "run_ms" -> m.executorRunTime,
      "cpu_ns" -> m.executorCpuTime,
      "gc_ms" -> m.jvmGCTime,
      "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read" -> m.shuffleReadMetrics.totalBytesRead,
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "in_rows" -> m.inputMetrics.recordsRead,
      "in_bytes" -> m.inputMetrics.bytesRead,
      "out_bytes" -> m.outputMetrics.bytesWritten)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) emit("k" -> "block", "block" -> b.blockId.name,
      "mem" -> b.memSize, "disk" -> b.diskSize, "t" -> now())
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    qe.tracker.phases.foreach { case (phase, p) =>
      emit("k" -> "phase", "phase" -> phase, "t0" -> p.startTimeMs, "t1" -> p.endTimeMs)
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Just enough JSON writing for the benchmark's records. */
object Json {
  final case class Raw(json: String) { override def toString: String = json }

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(json) => json
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
