package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.storage.StorageLevel

import graft.{Bench, BenchAction, SparkEntry, Tables}
import graft.queries.Det

/** Closed-loop benchmark client: one JVM, one thread, one query at a time.
  *
  * A run is: session start, table cache, two untimed verification passes
  * that also warm the JIT, then timed passes over the workload's queries (a
  * cold pass after the index wipe, then at least three warm passes) until
  * `--seconds` have been measured. The seed only permutes the query order
  * of each pass. With `--trace 1` every query call is split into the layer
  * spans builder / catalyst / execution and Spark counters are attributed
  * to them; a builder call that wrote a new index is labelled as the
  * IndexStore layer. Without it only the pass and query walls are taken.
  * Everything is written as JSON for `run.py`. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private val IndexDir = "graft_[a-z0-9_]+_v[0-9]+".r

  final case class Args(workload: String, queries: Seq[String], seed: Long,
      seconds: Double, trace: Boolean, cpus: Int, sfDir: String, tmpRoot: String,
      expected: Option[String], out: String, traceOut: String, recordDir: Option[String])

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = m.get(k).filter(_.nonEmpty)
    Args(m("workload"), m("queries").split(",").toSeq, m("seed").toLong,
      m("seconds").toDouble, m("trace") == "1", m("cpus").toInt, m("sf-dir"), m("tmp-root"),
      opt("expected"), m("out"), m("trace-out"), opt("record-dir"))
  }

  private def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).fold(0L)(_.map(bytesUnder).sum) else f.length()

  /** Committed index directories (`graft_<family>_v<n>/<key>`) under the
    * run's temp root; staging copies carry `.tmp.` and are excluded. */
  private def indexDirs(root: File): Set[File] =
    Option(root.listFiles()).toSeq.flatten.filter(f => IndexDir.matches(f.getName))
      .flatMap(f => Option(f.listFiles()).toSeq.flatten).filterNot(_.getName.contains(".tmp."))
      .toSet

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def procKb(file: String, key: String): Long =
    scala.util.Using.resource(scala.io.Source.fromFile(file))(_.getLines()
      .find(_.startsWith(key + ":")).map(_.split("\\s+")(1).toLong).getOrElse(-1L))

  /** Order-insensitive result fingerprint: row count and the wrapping sum
    * of a 64-bit hash of each row's UnsafeRow bytes, over the plan's own
    * `toRdd` (so it also warms the code the timed action runs). */
  def fingerprint(df: DataFrame): (Long, String) = {
    val schema = df.schema
    val (n, h) = df.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      var n = 0L; var h = 0L
      it.foreach { r =>
        val u = proj(r)
        n += 1; h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
      }
      Iterator((n, h))
    }.collect().foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    (n, java.lang.Long.toHexString(h))
  }

  private def planCounts(plan: SparkPlan): Map[String, Int] = {
    val nodes = plan.collectWithSubqueries { case p => p }
    Map(
      "plan_operators" -> nodes.count {
        case _: WholeStageCodegenExec | _: InputAdapter => false
        case _ => true
      },
      "plan_exchanges" -> nodes.count(_.isInstanceOf[Exchange]),
      "plan_reused_exchanges" -> nodes.count(_.isInstanceOf[ReusedExchangeExec]))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    // Spans are timed on nanoTime; the root starts at JVM start, which the
    // runtime reports only in wall-clock milliseconds.
    val jvmAgeMs = System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime
    val t0Ns = System.nanoTime() - jvmAgeMs * 1000000L
    val tracer = new Tracer(t0Ns)
    val root = tracer.open("run", "harness", -1, t0Ns)
    tracer.close(tracer.open("jvm_start", "harness", root.id, t0Ns))

    val tmpRoot = new File(a.tmpRoot)
    val inherited = Option(tmpRoot.listFiles()).toSeq.flatten.map(_.getName).sorted
    require(tmpRoot.isDirectory && inherited.isEmpty,
      s"temp root ${a.tmpRoot} must exist and be empty, found: ${inherited.mkString(",")}")
    val registry = SparkEntry.queries
    val unknown = a.queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    val spark = tracer.timed("session_start", "harness", root.id) { _ =>
      val s = SparkSession.builder()
        .master(s"local[${a.cpus}]")
        .config("spark.sql.shuffle.partitions",
          Bench.shuffleDefault(a.cpus, bytesUnder(new File(a.sfDir))).toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config(Tables.EventsNanosConf, "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "8MB")
        .config("spark.sql.adaptive.enabled", "false")
        .config("spark.io.compression.codec", "lz4")
        .config(Det.SpreadConf, "true")
        .config("spark.local.dir", a.tmpRoot)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val sc = spark.sparkContext

    val cacheMb = tracer.timed("table_cache", "harness", root.id) { _ =>
      Tables.names.foreach { n =>
        val df = Tables.table(spark, a.sfDir, n)
        df.persist(StorageLevel.MEMORY_ONLY)
        df.count()
      }
      sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    }

    val expected: Map[String, (Long, String)] = a.expected.fold(Map.empty[String, (Long, String)]) { f =>
      mapper.readTree(new File(f)).properties().asScala.map { e =>
        e.getKey -> (e.getValue.get("rows").asLong, e.getValue.get("hash").asText)
      }.toMap
    }
    def order(pass: Int): Seq[String] = new scala.util.Random(a.seed * 1000003L + pass).shuffle(a.queries)

    var attempted = 0
    var failed = 0
    val verifyRows = mutable.ArrayBuffer.empty[Map[String, Any]]
    def verifyPass(phase: String, qs: Seq[String], parent: Span): Unit = qs.foreach { q =>
      tracer.timed(s"verify:$q", "harness", parent.id) { _ =>
        attempted += 1
        val res = try {
          val df = registry(q)(spark, a.sfDir)
          val fp = fingerprint(df)
          a.recordDir.foreach { d =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$d/$q")
          }
          Right(fp)
        } catch { case t: Throwable => Left(s"${t.getClass.getSimpleName}: ${t.getMessage}") }
        val ok = res.isRight && a.recordDir.isDefined || res.exists(fp => expected.get(q).contains(fp))
        if (!ok) failed += 1
        verifyRows += (Map("query" -> q, "phase" -> phase, "ok" -> ok) ++ (res match {
          case Right((n, h)) => Map("rows" -> n, "hash" -> h) ++ expected.get(q).map { case (en, eh) =>
            Map("expected_rows" -> en, "expected_hash" -> eh) }.getOrElse(Map.empty)
          case Left(err) => Map("error" -> err)
        }))
      }
    }
    tracer.timed("warmup", "harness", root.id) { w =>
      verifyPass(if (a.queries.exists(_.endsWith("_probe"))) "cold" else "warm", order(0), w)
      // The first pass built the indexes in the fresh root; the second checks
      // the warm read path against the same fingerprints, and lets the JIT
      // settle so that the cold timed pass measures index builds, not JIT.
      verifyPass("warm", order(-1), w)
    }
    val setupS = (System.nanoTime() - t0Ns) / 1e9
    a.recordDir.foreach { d =>
      val oracle = SparkEntry.oracleSql.filter { case (q, _) => a.queries.contains(q) }
      mapper.writeValue(new File(s"$d/oracle_sql.json"), oracle)
    }

    val wiped = tracer.timed("index_wipe", "harness", root.id) { s =>
      val dirs = Option(tmpRoot.listFiles()).toSeq.flatten.filter(f => IndexDir.matches(f.getName))
      dirs.foreach(deleteTree)
      s.attrs("wiped") = dirs.map(_.getName).sorted
      dirs.size
    }

    val attribution = new JobAttribution
    if (a.trace) sc.addSparkListener(attribution)
    var groupSeq = 0
    def inGroup[T](span: Span)(f: => T): T = {
      groupSeq += 1
      val g = s"pb-$groupSeq"
      span.attrs("group") = g
      sc.setJobGroup(g, span.name, interruptOnCancel = false)
      try f finally sc.clearJobGroup()
    }

    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val measureStart = System.nanoTime()
    var pass = 0
    var warm = 0
    var lastPassS = 0.0
    def measuredS = (System.nanoTime() - measureStart) / 1e9
    def ageS = (System.nanoTime() - t0Ns) / 1e9
    // A run must end well inside the harness's hard limit.
    val budgetS = 150.0
    // Three warm passes: the JIT is often still settling in the first one,
    // and a median of three keeps it out. Traced runs make them untraced,
    // traced, untraced, so the tracing overhead is measured inside the same
    // JVM with the traced pass between two untraced ones.
    val minWarm = 3
    while (a.seconds > 0 && (measuredS < a.seconds || warm < minWarm) &&
        (pass == 0 || ageS + lastPassS < budgetS)) {
      // the pass after the wipe builds every index, so it is kept out of
      // the warm samples
      val cold = pass == 0
      val traced = a.trace && (cold || warm % 2 == 1)
      val ps = tracer.open(s"pass:$pass", "harness", root.id)
      ps.attrs ++= Seq("pass" -> pass, "kind" -> (if (cold) "cold" else "warm"), "traced" -> traced)
      val gc0 = gcMs
      val rows = order(pass + 1).map { q =>
        val before = indexDirs(tmpRoot)
        val qs = tracer.open(s"query:$q", "harness", ps.id)
        val err = try {
          if (!traced) BenchAction.run("rdd", registry(q)(spark, a.sfDir))
          else {
            val df = tracer.timed("build", "queries", qs.id) { s =>
              val df = inGroup(s)(registry(q)(spark, a.sfDir))
              // the store is called from inside the builder, so its boundary is
              // seen from here as the index directories a builder call commits
              if ((indexDirs(tmpRoot) -- before).nonEmpty) s.layer = "ops.IndexStore"
              df
            }
            val plan = tracer.timed("catalyst", "catalyst", qs.id) { c =>
              tracer.timed("optimize", "catalyst", c.id)(s => inGroup(s)(df.queryExecution.optimizedPlan))
              tracer.timed("physical", "catalyst", c.id)(s => inGroup(s)(df.queryExecution.executedPlan))
            }
            qs.attrs ++= planCounts(plan)
            tracer.timed("execute", "execution", qs.id)(s => inGroup(s)(BenchAction.run("rdd", df)))
          }
          None
        } catch { case t: Throwable => Some(s"${t.getClass.getSimpleName}: ${t.getMessage}") }
        tracer.close(qs)
        val created = indexDirs(tmpRoot) -- before
        attempted += 1
        if (err.isDefined) failed += 1
        qs.attrs ++= Seq("query" -> q, "ok" -> err.isEmpty, "probe" -> q.endsWith("_probe"),
          "index_dirs_created" -> created.size, "index_bytes_written" -> created.toSeq.map(bytesUnder).sum)
        err.foreach(qs.attrs("error") = _)
        Map("query" -> q, "wall_s" -> (qs.endNs - qs.startNs) / 1e9, "ok" -> err.isEmpty,
          "index_dirs_created" -> created.size) ++ err.map("error" -> _)
      }
      tracer.close(ps)
      ps.attrs("gc_s") = (gcMs - gc0) / 1e3
      lastPassS = (ps.endNs - ps.startNs) / 1e9
      passes += Map("pass" -> pass, "kind" -> ps.attrs("kind"), "traced" -> traced,
        "wall_s" -> lastPassS, "gc_s" -> ps.attrs("gc_s"), "queries" -> rows)
      if (!cold) warm += 1
      pass += 1
    }

    if (a.trace) tracer.timed("trace_drain", "harness", root.id) { s =>
      s.attrs("drained") = attribution.drain(spark, 30000L)
      tracer.spans.filter(_.attrs.contains("group")).foreach { sp =>
        sp.attrs ++= attribution.get(sp.attrs("group").toString).toMap
      }
    }

    val provenance: Map[String, Any] = Map(
      "spark_version" -> spark.version,
      "cpus" -> a.cpus,
      "mem_total_mb" -> procKb("/proc/meminfo", "MemTotal") / 1024,
      "jvm_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "java_version" -> System.getProperty("java.version"),
      "spark_conf" -> (sc.getConf.getAll.toMap ++ spark.conf.getAll),
      "sf_dir" -> a.sfDir)
    spark.stop()
    tracer.close(root)

    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "provenance" -> provenance,
      "isolation" -> Map("tmp_root_fresh" -> inherited.isEmpty, "index_dirs_wiped" -> wiped),
      "setup" -> Map("setup_s" -> setupS, "table_cache_mb" -> cacheMb),
      "verify" -> verifyRows.toSeq,
      "passes" -> passes.toSeq,
      "attempted" -> attempted, "failed" -> failed,
      "peak_rss_mb" -> procKb("/proc/self/status", "VmHWM") / 1024.0)
    mapper.writeValue(new File(a.out), result)
    mapper.writeValue(new File(a.traceOut), tracer.toJson)
  }
}
