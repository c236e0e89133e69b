package org.apache.spark.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.{OracleCtx, QueryModule, SparkEntry}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** JVM side of the materialized-result benchmark (see perfbench/README.md).
  *
  * One closed-loop client (this thread) replays a mix of query ids and
  * materializes each result with a no-sink `noop` write. The harness only
  * records raw observations -- per-query timings, per-pass process
  * counters, result digests and, in traced passes, spans from its own
  * SparkListener -- and writes them as JSON. perfbench/metrics.py turns
  * them into metrics.
  *
  * It lives in package org.apache.spark only to drain the listener bus
  * (`listenerBus.waitUntilEmpty`) before reading a traced pass.
  *
  * Usage: Harness key=value... with keys
  *   sf=<dir>  ids=a,b,c  seed=<n>  passes=<n>  trace=0|1
  *   warehouse=<dir>  spark-local=<dir>  watch=<dir>:<dir>  out=<file>
  *   spans=<file>
  *   [cores=<n>]  [dump=<dir>: write each cold-pass result as parquet]
  */
object Harness {
  private val SpanKey = "perfbench.span"

  // ---- raw records -------------------------------------------------------

  final case class Sample(id: String, module: String, pass: Int,
    constructS: Double, execS: Double, ok: Boolean, error: String)

  final case class Pass(kind: String, index: Int, wallS: Double,
    cpuS: Double, gcS: Double, samples: Seq[Sample])

  /** A traced interval. Spans of one query execution share `trace`. */
  final case class Span(id: Long, parent: Long, trace: Long, kind: String,
    name: String, module: String, pass: Int, startMs: Double, endMs: Double,
    counters: Map[String, Double])

  // ---- clocks ------------------------------------------------------------

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def epochMs(nanos: Long): Double = epoch0 + (nanos - nano0) / 1e6
  private def secs(from: Long, to: Long): Double = (to - from) / 1e9

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuNanos(): Long = osBean.getProcessCpuTime
  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  // ---- listener ------------------------------------------------------------

  /** Job and stage records keyed by the `perfbench.span` local property
    * ("<trace>/<phase>") that the client thread sets around each phase. */
  final class Tracer extends SparkListener {
    final case class Job(id: Int, span: String, start: Long, var end: Long,
      stages: Seq[Int])
    final case class Stage(id: Int, attempt: Int, span: String, start: Long,
      end: Long, counters: Map[String, Double])
    val jobs = mutable.LinkedHashMap[Int, Job]()
    val stages = mutable.ArrayBuffer[Stage]()
    private val stageSpan = mutable.Map[(Int, Int), String]()

    private def key(p: Properties): String =
      Option(p).flatMap(x => Option(x.getProperty(SpanKey))).getOrElse("")

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId) = Job(e.jobId, key(e.properties), e.time, e.time,
        e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        stageSpan((e.stageInfo.stageId, e.stageInfo.attemptNumber())) =
          key(e.properties)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val m = Option(si.taskMetrics)
        def c(f: org.apache.spark.executor.TaskMetrics => Long): Double =
          m.map(f).getOrElse(0L).toDouble
        val counters = Map(
          "tasks" -> si.numTasks.toDouble,
          "task_ms" -> c(_.executorRunTime),
          "cpu_ns" -> c(_.executorCpuTime),
          "gc_ms" -> c(_.jvmGCTime),
          "input_bytes" -> c(_.inputMetrics.bytesRead),
          "shuffle_write_bytes" -> c(_.shuffleWriteMetrics.bytesWritten),
          "shuffle_read_bytes" -> c(_.shuffleReadMetrics.totalBytesRead),
          "spill_disk_bytes" -> c(_.diskBytesSpilled),
          "spill_mem_bytes" -> c(_.memoryBytesSpilled),
          "output_bytes" -> c(_.outputMetrics.bytesWritten))
        val start = si.submissionTime.getOrElse(0L)
        stages += Stage(si.stageId, si.attemptNumber(),
          stageSpan.getOrElse((si.stageId, si.attemptNumber()), ""),
          start, si.completionTime.getOrElse(start), counters)
      }
  }

  // ---- storage snapshot (traced passes) ----------------------------------

  /** path -> size of every regular file under the watched directories. */
  private def snapshot(dirs: Seq[File]): Map[String, Long] = {
    val out = Map.newBuilder[String, Long]
    def walk(f: File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach { k =>
        if (k.isDirectory) walk(k) else out += k.getPath -> k.length()
      }
    }
    dirs.foreach(walk)
    out.result()
  }

  /** (files, bytes) that are new or changed size between two snapshots. */
  private def written(before: Map[String, Long],
      after: Map[String, Long]): (Double, Double) = {
    val changed = after.filter { case (p, n) => !before.get(p).contains(n) }
    (changed.size.toDouble, changed.values.sum.toDouble)
  }

  // ---- result digest -----------------------------------------------------

  /** Canonical form for hashing: -0.0 folds into 0.0 and map entries are
    * sorted, recursively through arrays and structs. */
  private def canon(c: Column, dt: DataType): Column = dt match {
    case DoubleType | FloatType => c.cast(DoubleType) + lit(0.0)
    case ArrayType(et, _) => transform(c, x => canon(x, et))
    case st: StructType if st.nonEmpty =>
      when(c.isNull, lit(null)).otherwise(struct(st.fields.toIndexedSeq.map(
        f => canon(c.getField(f.name), f.dataType).as(f.name)): _*))
    case MapType(kt, vt, _) =>
      array_sort(transform(map_entries(c), e => struct(
        canon(e.getField("key"), kt).as("key"),
        canon(e.getField("value"), vt).as("value"))))
    case _ => c
  }

  /** Order-insensitive digest of a result: row count plus the sums of two
    * independent row hashes. Also returns the result's schema. */
  private def digest(df: DataFrame): (Long, String, String) = {
    val schema = df.schema.fields
      .map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")
    val named = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.schema.fields.toSeq.map(f => canon(col(f.name), f.dataType))
    val row = if (cols.isEmpty) Seq(lit(0)) else cols
    val r = named.select(xxhash64(row: _*).as("h64"), hash(row: _*).as("h32"))
      .agg(count(lit(1)), sum(col("h64").cast(DecimalType(38, 0))),
        sum(col("h32").cast(LongType)))
      .head()
    val n = r.getLong(0)
    val h64 = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    val h32 = if (r.isNullAt(2)) 0L else r.getLong(2)
    (n, schema, s"$n:$h64:$h32")
  }

  // ---- JSON --------------------------------------------------------------

  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  private def json(v: Any): String = mapper.writeValueAsString(v)

  // ---- main --------------------------------------------------------------

  def main(argv: Array[String]): Unit = {
    val args = argv.map { a =>
      val i = a.indexOf('='); a.take(i) -> a.drop(i + 1)
    }.toMap
    val sf = args("sf")
    val ids = args("ids").split(",").toIndexedSeq.filter(_.nonEmpty)
    val seed = args.getOrElse("seed", "0").toLong
    val warmPasses = args.getOrElse("passes", "1").toInt
    val traceOn = args.getOrElse("trace", "0") == "1"
    val watch = args.getOrElse("watch", "").split(":").filter(_.nonEmpty)
      .map(new File(_)).toSeq
    val cores = args.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())

    // id -> (module name, module), from the engine's own module list, so the
    // attribution follows SparkEntry without a copy of it here.
    val modulesField = SparkEntry.getClass.getDeclaredField("modules")
    modulesField.setAccessible(true)
    val owner: Map[String, (String, QueryModule)] =
      modulesField.get(SparkEntry).asInstanceOf[Seq[QueryModule]].flatMap { m =>
        val name = m.getClass.getSimpleName.stripSuffix("$")
        m.queries.keys.map(_ -> (name, m))
      }.toMap
    val unknown = ids.filterNot(owner.contains)
    require(unknown.isEmpty, s"unknown query ids: ${unknown.mkString(", ")}")

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", args("warehouse"))
      .config("spark.local.dir", args("spark-local"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    OracleCtx.sfDir = sf

    var nextId = 0L
    def newId(): Long = { nextId += 1; nextId }
    val spans = mutable.ArrayBuffer[Span]()

    def setSpan(v: String): Unit = spark.sparkContext.setLocalProperty(SpanKey, v)

    /** Construct one id and materialize it with `materialize`. In a traced
      * pass, record the query, construct and execute spans and the files
      * the query wrote. */
    def runOne(id: String, pass: Int, traced: Boolean,
        materialize: (String, DataFrame) => Unit): Sample = {
      val (module, m) = owner(id)
      val trace = if (traced) newId() else 0L
      val before = if (traced) snapshot(watch) else Map.empty[String, Long]
      val t0 = System.nanoTime()
      var t1 = t0
      var ok = true
      var error: String = null
      try {
        if (traced) setSpan(s"$trace/construct")
        val df = m.queries(id)(spark, sf)
        t1 = System.nanoTime()
        if (traced) setSpan(s"$trace/execute")
        materialize(id, df)
      } catch {
        case e: Throwable =>
          ok = false
          error = s"${e.getClass.getName}: ${e.getMessage}".take(500)
          if (t1 == t0) t1 = System.nanoTime()
      } finally if (traced) setSpan(null)
      val t2 = System.nanoTime()
      if (traced) {
        val (files, bytes) = written(before, snapshot(watch))
        spans += Span(trace, 0L, trace, "query", id, module, pass,
          epochMs(t0), epochMs(t2),
          Map("files_written" -> files, "bytes_written" -> bytes))
        spans += Span(newId(), trace, trace, "construct", id, module, pass,
          epochMs(t0), epochMs(t1), Map.empty)
        spans += Span(newId(), trace, trace, "execute", id, module, pass,
          epochMs(t1), epochMs(t2), Map.empty)
      }
      Sample(id, module, pass, secs(t0, t1), secs(t1, t2), ok, error)
    }

    // The cold pass runs the ids in their listed order, so that set-up
    // does not depend on the seed; every later pass in a seeded order.
    def runPass(kind: String, index: Int, traced: Boolean,
        materialize: (String, DataFrame) => Unit): Pass = {
      val order = if (kind == "cold") ids
        else new scala.util.Random(seed * 1000003L + index).shuffle(ids)
      val (w0, c0, g0) = (System.nanoTime(), cpuNanos(), gcMillis())
      val samples = order.map(runOne(_, index, traced, materialize))
      Pass(kind, index, secs(w0, System.nanoTime()),
        (cpuNanos() - c0) / 1e9, (gcMillis() - g0) / 1e3, samples)
    }

    // Set-up ends with the cold first pass, which builds side files and
    // fills caches. It also checks every result: it materializes each one
    // through an order-insensitive digest instead of the noop write (and,
    // when recording, writes it as parquet for the oracle compare).
    val dump = args.get("dump")
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    val passes = mutable.ArrayBuffer[Pass]()
    val noop: (String, DataFrame) => Unit =
      (_, df) => df.write.format("noop").mode("overwrite").save()
    passes += runPass("cold", 0, traced = false, (id, df) => {
      dump.foreach(d => df.coalesce(1).write.mode("overwrite").parquet(s"$d/$id"))
      val (rows, schema, dig) = digest(df)
      checks += Map("id" -> id, "rows" -> rows, "schema" -> schema,
        "digest" -> dig)
    })
    val setupS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    dump.foreach { d =>
      val oracles = SparkEntry.oracleSql.filter { case (k, _) => ids.contains(k) }
      Files.write(Paths.get(s"$d/oracle_sql.json"),
        json(oracles).getBytes(StandardCharsets.UTF_8))
    }

    // Warm passes: `passes` of them. When tracing, at least four: after two
    // plain ones, traced ones alternate with plain ones, so that each traced
    // pass has a plain pass on either side to compare it with while pass
    // times still drift down with the JIT.
    val tracer = new Tracer
    val nWarm = if (traceOn) warmPasses.max(4) else warmPasses
    for (index <- 1 to nWarm) {
      val traced = traceOn && index % 2 == 1 && index > 1 && index < nWarm
      if (traced) spark.sparkContext.addSparkListener(tracer)
      passes += runPass(if (traced) "traced" else "warm", index, traced, noop)
      if (traced) {
        spark.sparkContext.listenerBus.waitUntilEmpty()
        spark.sparkContext.removeSparkListener(tracer)
      }
    }

    // Job and stage spans, parented by the phase span named in their
    // local property.
    val phaseSpan = spans.filter(s => s.kind == "construct" || s.kind == "execute")
      .map(s => s"${s.trace}/${s.kind}" -> s).toMap
    val jobSpan = mutable.Map[Int, Span]()
    tracer.jobs.values.foreach { j =>
      val parent = phaseSpan.get(j.span)
      val s = Span(newId(), parent.map(_.id).getOrElse(-1L),
        parent.map(_.trace).getOrElse(-1L), "job", s"job ${j.id}",
        parent.map(_.module).orNull, parent.map(_.pass).getOrElse(-1),
        j.start.toDouble, j.end.toDouble, Map("stages" -> j.stages.size.toDouble))
      jobSpan(j.id) = s
      spans += s
    }
    tracer.stages.foreach { st =>
      val job = tracer.jobs.values.filter(j => j.span == st.span &&
        j.stages.contains(st.id)).lastOption.flatMap(j => jobSpan.get(j.id))
      spans += Span(newId(), job.map(_.id).getOrElse(-1L),
        job.map(_.trace).getOrElse(-1L), "stage",
        s"stage ${st.id}.${st.attempt}", job.map(_.module).orNull,
        job.map(_.pass).getOrElse(-1), st.start.toDouble, st.end.toDouble,
        st.counters)
    }

    val labels = Map(
      "spark_version" -> spark.version,
      "cores" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "java_version" -> System.getProperty("java.version"))
    // Repeated full GCs with pauses let the context cleaner drop blocks of
    // collected broadcasts and shuffles before the heap is read.
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(300) }
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1e6
    spark.stop()

    args.get("spans").foreach { f =>
      Files.write(Paths.get(f), spans.map(json).mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
    }
    val out = Map(
      "labels" -> labels,
      "session_s" -> sessionS,
      "setup_s" -> setupS,
      "live_heap_mb" -> liveHeapMb,
      "passes" -> passes.toSeq,
      "checks" -> checks.toSeq)
    Files.write(Paths.get(args("out")),
      json(out).getBytes(StandardCharsets.UTF_8))
  }
}
