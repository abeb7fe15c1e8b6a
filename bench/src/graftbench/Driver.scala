package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicReference

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.graftbench.Bus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

/** JVM half of the benchmark; `run.py` builds and launches it.
  *
  * Reads a pass plan (one line per pass: `T` or `U` for traced or
  * untraced, a space, then the comma-separated query order) and runs it
  * closed loop: one driver thread submits one query at a time and waits
  * for it. After the timed passes it fingerprints every query's answer,
  * then writes the raw measurements as JSON for `run.py` to reduce.
  *
  * The engine is reached only through `graft.GraftSession.local` and
  * `graft.SparkEntry.queries(name)`, so the same driver builds against
  * any commit that keeps those names.
  *
  * Usage: Driver <dataDir> <planFile> <outFile> <spansFile> <cpus>
  *               <launchEpochMs> <setups> <queryTimeoutS> <passBudgetS>
  *               <deadlineS>
  *
  * A query that would start after the timed passes have run for
  * `passBudgetS`, or after `deadlineS` from launch, is skipped and
  * counted as failed, so a pathological slowdown still ends the run.
  */
object Driver {

  /** Local property naming the query execution and phase a job runs for. */
  private val KeyProp = "graftbench.key"

  /** Counters charged to one phase of one query execution. */
  final class Counters {
    var jobs, stages, tasks, taskFailures = 0L
    var taskMs, cpuNs, gcMs, fetchWaitMs = 0L
    var shuffleWrite, shuffleRead, spill = 0L
    var readBytes, readRows, writeBytes, writeRows = 0L
    var batches, batchMs, stateRows = 0L
    var compiles, compileNs = 0L
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

    def json: String = obj(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "task_failures" -> taskFailures, "task_s" -> taskMs / 1e3,
      "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
      "fetch_wait_s" -> fetchWaitMs / 1e3,
      "shuffle_write_mb" -> shuffleWrite / 1e6, "shuffle_read_mb" -> shuffleRead / 1e6,
      "spill_mb" -> spill / 1e6, "read_mb" -> readBytes / 1e6, "read_rows" -> readRows,
      "write_mb" -> writeBytes / 1e6, "write_rows" -> writeRows,
      "batches" -> batches, "batch_s" -> batchMs / 1e3, "state_rows" -> stateRows,
      "compiles" -> compiles, "compile_s" -> compileNs / 1e9)
  }

  /** Charges scheduler and streaming events to the query phase that
    * caused them: by the job's [[KeyProp]] where the job carries one,
    * else to the phase the driver thread is in. The driver drains the
    * listener bus after every query, so no event outlives its query.
    */
  final class Tracer extends SparkListener {
    @volatile var current: String = ""
    private val byKey = new ConcurrentHashMap[String, Counters]()
    private val stageOwner = new ConcurrentHashMap[Int, Counters]()

    def open(key: String): Counters = { val c = new Counters; byKey.put(key, c); c }

    private def owner(props: Properties): Counters = {
      val k = Option(props).flatMap(p => Option(p.getProperty(KeyProp)))
      k.flatMap(x => Option(byKey.get(x))).getOrElse(byKey.get(current))
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = owner(e.properties)
      if (c != null) {
        c.jobs += 1
        e.stageIds.foreach(s => stageOwner.put(s, c))
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageOwner.get(e.stageInfo.stageId)).foreach(_.stages += 1)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = Option(stageOwner.get(e.stageId)).getOrElse(byKey.get(current))
      if (c == null) return
      c.tasks += 1
      if (e.reason != Success) c.taskFailures += 1
      c.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.diskBytesSpilled
        c.readBytes += m.inputMetrics.bytesRead
        c.readRows += m.inputMetrics.recordsRead
        c.writeBytes += m.outputMetrics.bytesWritten
        c.writeRows += m.outputMetrics.recordsWritten
      }
    }

    /** Streaming micro-batches run inside a query's eager build. */
    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val c = byKey.get(current.takeWhile(_ != '/') + "/build")
        if (c != null) {
          val p = e.progress
          c.batches += 1
          c.batchMs += p.batchDuration
          c.stateRows += p.stateOperators.map(_.numRowsTotal).sum
        }
      }
    }
  }

  final case class Span(id: Int, parent: Int, kind: String, name: String,
                        startNs: Long, endNs: Long, attrs: String = "{}")

  def main(args: Array[String]): Unit = {
    val Array(dataDir, planFile, outFile, spansFile, cpusS, launchS, setupsS,
              timeoutS, passBudgetS, deadlineS) = args
    val cpus = cpusS.toInt
    val launchMs = launchS.toLong
    val queryTimeoutS = timeoutS.toInt
    val deadlineMs = launchMs + deadlineS.toLong * 1000L
    val plan: Seq[(Boolean, Seq[String])] =
      Files.readAllLines(Paths.get(planFile), UTF_8).asScala.toSeq
        .filter(_.trim.nonEmpty).map { l =>
          val Array(mode, qs) = l.trim.split(" ", 2)
          (mode == "T", qs.split(",").toSeq)
        }
    val names = plan.flatMap(_._2).distinct

    // ── set-up: the first sample counts from process launch; each later
    // one stops the session and builds it again in the same JVM
    val tables = Option(new java.io.File(dataDir).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.endsWith(".parquet")).sorted
    require(tables.nonEmpty, s"no parquet tables in $dataDir")
    def setUp(): SparkSession = {
      val s = graft.GraftSession.local("graftbench", cpus)
      s.sparkContext.setLogLevel("WARN") // as graft.Bench runs
      tables.foreach(t => s.read.parquet(s"$dataDir/$t").schema)
      s
    }
    var spark = setUp()
    val setupS = mutable.ArrayBuffer((System.currentTimeMillis() - launchMs) / 1e3)
    for (_ <- 2 to setupsS.toInt) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      val t0 = System.nanoTime()
      spark = setUp()
      setupS += (System.nanoTime() - t0) / 1e9
    }

    val registry = graft.SparkEntry.queries
    val unknown = names.filterNot(registry.contains)
    require(unknown.isEmpty, s"queries not in the registry: ${unknown.mkString(",")}")

    val tracer = new Tracer
    val spans = mutable.ArrayBuffer.empty[Span]
    def span(parent: Int, kind: String, name: String, s: Long, e: Long,
             attrs: String = "{}"): Int = {
      val id = spans.size + 1
      spans += Span(id, parent, kind, name, s, e, attrs)
      id
    }
    val t0Ns = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    def epochMs(ns: Long): Long = t0Ms + (ns - t0Ns) / 1000000L
    val passDeadlineMs = math.min(deadlineMs, t0Ms + passBudgetS.toLong * 1000L)
    // the last pass's results, fingerprinted after the timed region
    val results = mutable.LinkedHashMap.empty[String, DataFrame]

    // ── timed passes
    val passJson = mutable.ArrayBuffer.empty[String]
    var seq = 0
    for (((traced, order), p) <- plan.zipWithIndex) {
      val keep = p == plan.size - 1
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.streams.addListener(tracer.streams)
      }
      val passStart = System.nanoTime()
      val passSpan = span(0, "pass", s"pass$p", passStart, passStart)
      val queries = order.map { name =>
        seq += 1
        val key = s"q$seq"
        if (System.currentTimeMillis() > passDeadlineMs)
          obj("name" -> name, "wall_s" -> 0.0, "error" -> "skipped: pass budget spent")
        else {
          val phaseNames = Seq("build", "plan", "exec")
          val phases =
            if (traced) phaseNames.map(ph => ph -> tracer.open(s"$key/$ph")).toMap
            else Map.empty[String, Counters]
          // wall clock and codegen counters read as each phase starts;
          // slot 3 is the query's end. Only a traced pass takes them.
          val marks, compiles, compileNs = new Array[Long](4)
          def mark(i: Int): Unit = if (traced) {
            compiles(i) = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
            compileNs(i) = CodeGenerator.compileTime
            marks(i) = System.nanoTime()
            if (i < 3) {
              spark.sparkContext.setLocalProperty(KeyProp, s"$key/${phaseNames(i)}")
              tracer.current = s"$key/${phaseNames(i)}"
            }
          }
          // the one execution path of both modes: build the DataFrame,
          // plan it, run the planned query once, discarding the rows
          val (wall, r) = isolated(spark, key, name, queryTimeoutS) {
            mark(0)
            val df = registry(name)(spark, dataDir)
            mark(1)
            val qe = df.queryExecution
            qe.executedPlan
            val planMs = qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
            mark(2)
            qe.toRdd.foreach(_ => ())
            mark(3)
            (df, planMs)
          }
          if (keep) r.foreach { case (df, _) => results(name) = df }
          if (!traced)
            obj("name" -> name, "wall_s" -> wall, "error" -> r.left.toOption.orNull)
          else {
            Bus.drain(spark.sparkContext, 60000L)
            // a failed query ends where it stopped
            val last = marks.lastIndexWhere(_ > 0)
            if (last >= 0 && last < 3) mark(3)
            val qStart = if (marks(0) > 0) marks(0) else System.nanoTime()
            val qEnd = if (marks(3) > 0) marks(3) else qStart
            val qSpan = span(passSpan, "query", name, qStart, qEnd)
            // mark(3) is set whenever mark(0) is, so every started phase ends
            val phaseJson = phaseNames.indices.filter(marks(_) > 0).map { i =>
              val j = (i + 1 to 3).find(marks(_) > 0).get
              val c = phases(phaseNames(i))
              c.compiles = compiles(j) - compiles(i)
              c.compileNs = compileNs(j) - compileNs(i)
              span(qSpan, "phase", phaseNames(i), marks(i), marks(j), c.json)
              phaseNames(i) -> Raw(s"""{"s":${(marks(j) - marks(i)) / 1e9},"counters":${c.json}}""")
            }
            val busyMs = covered(phases.values.flatMap(_.taskSpans).toSeq,
                                 epochMs(qStart), epochMs(qEnd))
            val idle = math.max(0.0, (qEnd - qStart) / 1e9 - busyMs / 1e3)
            val planMs = r.fold(_ => Map.empty[String, Long], _._2)
            obj("name" -> name, "wall_s" -> wall, "error" -> r.left.toOption.orNull,
                "idle_s" -> idle, "plan_ms" -> Raw(obj(planMs.toSeq: _*)),
                "phases" -> Raw(obj(phaseJson: _*)))
          }
        }
      }
      val passEnd = System.nanoTime()
      spans(passSpan - 1) = spans(passSpan - 1).copy(endNs = passEnd)
      if (traced) {
        spark.sparkContext.removeSparkListener(tracer)
        spark.streams.removeListener(tracer.streams)
      }
      passJson += obj("traced" -> traced, "wall_s" -> (passEnd - passStart) / 1e9,
                      "queries" -> Raw(queries.mkString("[", ",", "]")))
    }

    // ── answer check, outside the timed region: fingerprint the
    // DataFrames the last pass returned (a query that failed there is
    // built again), so the check does not repeat the eager builds
    val checkStart = System.nanoTime()
    val check = names.sorted.map { name =>
      seq += 1
      val (_, r) =
        if (System.currentTimeMillis() > deadlineMs) (0.0, Left("skipped: run deadline passed"))
        else isolated(spark, s"q$seq", name, queryTimeoutS) {
          fingerprint(results.getOrElse(name, registry(name)(spark, dataDir)))
        }
      name -> r.fold(e => s"ERROR: $e", identity)
    }
    val checkS = (System.nanoTime() - checkStart) / 1e9

    // live heap: full GCs with pauses between them, so the context
    // cleaner can drop the shuffles and broadcasts of dead queries first
    results.clear()
    Bus.drain(spark.sparkContext, 60000L)
    for (_ <- 1 to 2) { System.gc(); Thread.sleep(300) }
    System.gc()
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val heapMb = pools.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getCollectionUsage).filter(_ != null).map(_.getUsed).sum / 1048576.0
    val metaMb = pools.find(_.getName == "Metaspace").map(_.getUsage.getUsed / 1048576.0)
      .getOrElse(0.0)

    write(outFile, obj(
      "setup_s" -> Raw(setupS.mkString("[", ",", "]")),
      "passes" -> Raw(passJson.mkString("[", ",", "]")),
      "check" -> Raw(obj(check: _*)),
      "check_s" -> checkS,
      "metaspace_mb" -> metaMb, "live_heap_mb" -> heapMb))
    if (plan.exists(_._1))
      write(spansFile, spans.map { s =>
        obj("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
            "start_ms" -> (s.startNs - t0Ns) / 1e6, "end_ms" -> (s.endNs - t0Ns) / 1e6,
            "counters" -> Raw(s.attrs))
      }.mkString("[\n", ",\n", "\n]\n"))
    spark.stop()
  }

  /** Runs `body` on its own thread under job group `key`, waiting at
    * most `timeoutS`; a query still running then is cancelled. Returns
    * the wall seconds and the result or the error text.
    */
  private def isolated[T](spark: SparkSession, key: String, label: String,
                          timeoutS: Int)(body: => T): (Double, Either[String, T]) = {
    val result = new AtomicReference[Either[String, T]](Left(s"timeout after ${timeoutS}s"))
    val t0 = System.nanoTime()
    val th = new Thread(() => {
      spark.sparkContext.setJobGroup(key, label, interruptOnCancel = true)
      try result.set(Right(body))
      catch { case e: Throwable => result.set(Left(s"${e.getClass.getName}: ${e.getMessage}")) }
    }, key)
    th.setDaemon(true)
    th.start()
    th.join(timeoutS * 1000L)
    val wall = (System.nanoTime() - t0) / 1e9
    if (th.isAlive) {
      spark.sparkContext.cancelJobGroup(key)
      spark.streams.active.foreach(q => try q.stop() catch { case _: Exception => () })
      th.join(10000L)
      (wall, Left(s"timeout after ${timeoutS}s"))
    } else (wall, result.get)
  }

  /** Milliseconds of [from, to] during which at least one task ran. */
  private def covered(spans: Seq[(Long, Long)], from: Long, to: Long): Long = {
    var end = from
    var sum = 0L
    for ((s, e) <- spans.sortBy(_._1)) {
      val a = math.max(s, end)
      val b = math.min(e, to)
      if (b > a) { sum += b - a; end = b }
    }
    sum
  }

  /** Order-independent fingerprint of a result: row count, a hash of
    * the schema (columns sorted by name, integer widths and float
    * widths unified as `tools/compare.py` does) and the 128-bit sum of
    * per-row SHA-256 prefixes. Doubles are compared by their exact bits,
    * every NaN alike, as compare.py's `repr` does.
    */
  def fingerprint(df: DataFrame): String = {
    val struct = df.schema
    val fields = struct.fields
    val order = fields.indices.sortBy(i => fields(i).name).toArray
    val schema = order.map(i => s"${fields(i).name}:${typeName(fields(i).dataType)}").mkString(",")
    // reads the already planned query's RDD, so the check neither plans
    // nor compiles the query again; rows get the external types `df.rdd`
    // would give them
    val (rows, a, b) = df.queryExecution.toRdd.mapPartitions { it =>
      val toRow = CatalystTypeConverters.createToScalaConverter(struct)
      val md = MessageDigest.getInstance("SHA-256")
      val sb = new java.lang.StringBuilder
      var n, x, y = 0L
      it.foreach { internal =>
        val row = toRow(internal).asInstanceOf[Row]
        sb.setLength(0)
        order.foreach { i => canon(row.get(i), sb); sb.append('\u0001') }
        val d = md.digest(sb.toString.getBytes(UTF_8))
        x += java.nio.ByteBuffer.wrap(d, 0, 8).getLong
        y += java.nio.ByteBuffer.wrap(d, 8, 8).getLong
        n += 1
      }
      Iterator((n, x, y))
    }.fold((0L, 0L, 0L))((l, r) => (l._1 + r._1, l._2 + r._2, l._3 + r._3))
    val s = MessageDigest.getInstance("SHA-256").digest(schema.getBytes(UTF_8))
    f"$rows:${java.nio.ByteBuffer.wrap(s).getLong}%016x:$a%016x$b%016x"
  }

  private def typeName(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => "int64"
    case FloatType | DoubleType => "float64"
    case ArrayType(e, _) => s"array<${typeName(e)}>"
    case MapType(k, v, _) => s"map<${typeName(k)},${typeName(v)}>"
    case StructType(fs) => fs.map(f => s"${f.name}:${typeName(f.dataType)}").mkString("struct<", ",", ">")
    case other => other.simpleString
  }

  private def canon(v: Any, sb: java.lang.StringBuilder): Unit = v match {
    case null => sb.append('N')
    case d: Double =>
      if (d.isNaN) sb.append("fnan")
      else sb.append('f').append(java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d)))
    case f: Float => canon(f.toDouble, sb)
    case b: Boolean => sb.append('b').append(b)
    case n: Byte => sb.append('i').append(n.toLong)
    case n: Short => sb.append('i').append(n.toLong)
    case n: Int => sb.append('i').append(n.toLong)
    case n: Long => sb.append('i').append(n)
    case d: java.math.BigDecimal => sb.append('m').append(d.toPlainString)
    case t: java.sql.Timestamp =>
      sb.append('t').append(Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => sb.append('t').append(t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime => sb.append('T').append(t)
    case d: java.sql.Date => sb.append('d').append(d.toLocalDate)
    case d: java.time.LocalDate => sb.append('d').append(d)
    case s: String => sb.append('s').append(s.length).append(':').append(s)
    case y: Array[Byte] => sb.append('y'); y.foreach(x => sb.append(f"$x%02x"))
    case r: Row =>
      sb.append("r[")
      (0 until r.length).foreach { i => canon(r.get(i), sb); sb.append('\u0001') }
      sb.append(']')
    case m: scala.collection.Map[_, _] =>
      val entries = m.toSeq.map { case (k, x) =>
        val e = new java.lang.StringBuilder
        canon(k, e); e.append('\u0002'); canon(x, e)
        e.toString
      }.sorted
      sb.append("m[").append(entries.mkString("\u0001")).append(']')
    case s: scala.collection.Seq[_] =>
      sb.append("l[")
      s.foreach { x => canon(x, sb); sb.append('\u0001') }
      sb.append(']')
    case other => sb.append('o').append(other.getClass.getName).append(':').append(other)
  }

  // ── minimal JSON output
  final case class Raw(json: String)

  private def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case other => quote(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${quote(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  private def write(path: String, text: String): Unit =
    Files.write(Paths.get(path), text.getBytes(UTF_8))
}
