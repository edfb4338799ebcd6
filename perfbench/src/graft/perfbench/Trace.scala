package graft.perfbench

import scala.collection.mutable

/** One timed interval at a layer boundary. `parent` is -1 for the root. */
final class Span(val id: Int, val parent: Int, val name: String, var layer: String,
    val startNs: Long) {
  var endNs: Long = -1L
  val attrs: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty
}

/** In-memory span store: spans are appended while the run goes and written
  * out once, after the measured work. Single-threaded by design (the
  * benchmark submits one query at a time from one thread). */
final class Tracer(t0Ns: Long) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty

  def open(name: String, layer: String, parent: Int, startNs: Long = System.nanoTime()): Span = {
    val s = new Span(spans.size, parent, name, layer, startNs)
    spans += s
    s
  }

  def close(s: Span): Span = { s.endNs = System.nanoTime(); s }

  def timed[T](name: String, layer: String, parent: Int)(f: Span => T): T = {
    val s = open(name, layer, parent)
    try f(s) finally close(s)
  }

  def toJson: java.util.List[java.util.Map[String, Any]] = {
    val out = new java.util.ArrayList[java.util.Map[String, Any]]()
    spans.foreach { s =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("parent", s.parent)
      m.put("name", s.name); m.put("layer", s.layer)
      m.put("start_s", (s.startNs - t0Ns) / 1e9); m.put("end_s", (s.endNs - t0Ns) / 1e9)
      s.attrs.foreach { case (k, v) => m.put(k, v) }
      out.add(m)
    }
    out
  }
}

/** Spark counters of the jobs launched under one job group. */
final class GroupStats {
  var jobs = 0; var stages = 0; var tasks = 0; var failedTasks = 0
  var runMs = 0L; var shuffleRead = 0L; var shuffleWrite = 0L
  var spill = 0L; var peakExecMem = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "task_busy_s" -> runMs / 1e3, "shuffle_read_bytes" -> shuffleRead,
    "shuffle_write_bytes" -> shuffleWrite, "spill_bytes" -> spill,
    "peak_exec_mem_bytes" -> peakExecMem)
}

/** Attributes Spark jobs to spans through the job-group local property.
  * Jobs a query builder launches inherit the thread-local group of the span
  * that called the builder; broadcast and subquery jobs inherit it through
  * Spark's captured local properties. Events arrive asynchronously on the
  * listener bus, so [[drain]] runs a sentinel job and waits for its end
  * before any counter is read. */
final class JobAttribution extends org.apache.spark.scheduler.SparkListener {
  import org.apache.spark.scheduler._
  private val GroupKey = "spark.jobGroup.id"
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val stats = mutable.HashMap.empty[String, GroupStats]
  private val ended = mutable.HashSet.empty[String]

  private def of(g: String): GroupStats = stats.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).foreach { g =>
      of(g).jobs += 1
      jobGroup(e.jobId) = g
      e.stageIds.foreach(stageGroup(_) = g)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.get(e.jobId).foreach(ended += _)
    notifyAll()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(of(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageGroup.get(e.stageId).foreach { g =>
      val s = of(g)
      s.tasks += 1
      if (e.reason != org.apache.spark.Success) s.failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  /** Blocks until every event posted before this call has been delivered. */
  def drain(spark: org.apache.spark.sql.SparkSession, timeoutMs: Long): Boolean = {
    val g = s"sentinel-${System.nanoTime()}"
    val sc = spark.sparkContext
    sc.setJobGroup(g, "listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while (!ended.contains(g) && System.currentTimeMillis() < deadline)
        wait(math.max(1L, deadline - System.currentTimeMillis()))
      ended.contains(g)
    }
  }

  def get(group: String): GroupStats = synchronized(stats.getOrElse(group, new GroupStats))
}
