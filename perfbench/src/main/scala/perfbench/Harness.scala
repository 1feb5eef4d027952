package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.security.MessageDigest
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{SparkEntry, Tables}
import graft.laplace.{BlockSolver, Laplace}

/** JVM side of the benchmark. It drives the program only through its public
  * entry points, records spans (and, when traced, Spark listener events) in
  * memory, and writes everything to one JSON file when the run ends. All
  * metric arithmetic and the output checks live in `run.py`'s library.
  *
  *   Harness surface  out=<file> dir=<fixtures> queries=a,b,c warmup=W seconds=S trace=0|1 cores=N
  *   Harness laplace  out=<file> n=256 seconds=S trace=0|1 cores=N
  *   Harness record   out=<file> dir=<fixtures> cores=N
  */
object Harness {

  // ---- clock: span times are epoch milliseconds (fractional), on the same
  // scale as the listener's job, stage and task timestamps

  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  /** Progress line on stderr: how far into the JVM's life a step ended. */
  def mark(step: String): Unit =
    System.err.println(f"[perfbench] $step done at ${(now() - jvmStart) / 1000}%.1f s")

  // ---- JSON output (flat values only; nesting is built from strings)

  def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(fields: (String, Any)*): String = fields.map { case (k, v) =>
    js(k) + ":" + (v match {
      case s: String => js(s)
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case b: Boolean => b.toString
      case n: Number => n.toString
      case Raw(r) => r
      case null => "null"
      case o => js(o.toString)
    })
  }.mkString("{", ",", "}")
  final case class Raw(json: String)
  def arr(items: Iterable[String]): Raw = Raw(items.mkString("[", ",", "]"))

  // ---- spans

  final case class Span(id: Int, parent: Int, name: String, start: Double, end: Double)

  final class Tracer(val run: String) {
    val spans = ArrayBuffer.empty[Span]
    private var stack = List(0) // 0 is the run itself
    private var nextId = 1
    /** Run `f` inside a span; returns its result and the span. */
    def span[T](name: String)(f: => T): (T, Span) = {
      val id = nextId; nextId += 1
      val parent = stack.head
      stack = id :: stack
      val t0 = now()
      try {
        val r = f
        val s = Span(id, parent, name, t0, now())
        spans += s
        (r, s)
      } catch {
        case e: Throwable =>
          spans += Span(id, parent, name + "!failed", t0, now())
          throw e
      } finally stack = stack.tail
    }
    def json: Raw = arr(spans.map(s => obj("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start" -> s.start, "end" -> s.end, "run" -> run)))
  }

  // ---- listener: raw job, stage and task records

  final class Recorder extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[String]
    val stages = new ConcurrentLinkedQueue[String]
    val tasks = new ConcurrentLinkedQueue[String]
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]
    val started = new AtomicInteger
    val ended = new AtomicInteger
    @volatile var lastEvent: Long = System.nanoTime()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, (e.time, e.stageIds))
      started.incrementAndGet(); lastEvent = System.nanoTime()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (t0, stageIds) = jobStart.getOrDefault(e.jobId, (e.time, Nil))
      jobs.add(obj("id" -> e.jobId, "start" -> t0, "end" -> e.time,
        "stages" -> arr(stageIds.map(_.toString)),
        "ok" -> (e.jobResult == JobSucceeded)))
      ended.incrementAndGet(); lastEvent = System.nanoTime()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      stages.add(obj("id" -> s.stageId, "attempt" -> s.attemptNumber(),
        "start" -> s.submissionTime.getOrElse(0L),
        "end" -> s.completionTime.getOrElse(0L),
        "name" -> s.name, "tables" -> s.details.contains("Tables.scala"),
        "tasks" -> s.numTasks))
      lastEvent = System.nanoTime()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val i = e.taskInfo
      val m = e.taskMetrics
      val fields = Seq[(String, Any)]("stage" -> e.stageId,
        "start" -> i.launchTime, "end" -> i.finishTime, "ok" -> i.successful) ++
        (if (m == null) Nil else Seq[(String, Any)](
          "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime,
          "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "sw_records" -> m.shuffleWriteMetrics.recordsWritten,
          "sr_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
      tasks.add(obj(fields: _*))
      lastEvent = System.nanoTime()
    }

    /** Listener events arrive on Spark's bus thread: wait until every job
      * seen to start has ended and the bus has gone quiet. */
    def drain(): Unit = {
      val deadline = System.nanoTime() + 30000000000L
      while (System.nanoTime() < deadline &&
        (started.get != ended.get || System.nanoTime() - lastEvent < 300000000L))
        Thread.sleep(20)
    }
    def json: Seq[(String, Any)] = Seq("jobs" -> arr(jobs.asScala),
      "stages" -> arr(stages.asScala), "tasks" -> arr(tasks.asScala))
  }

  // ---- session set-up

  def newSession(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark's status store keeps the last 1,000 jobs, stages and SQL
      // executions by default, so the driver heap would grow with every
      // pass a run has made; a cap reached within the first pass keeps it
      // level
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "20")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set up `times` times, each until a first job has run; the first counts
    * from JVM start, the others stop the SparkContext and build a new one in
    * the same JVM. */
  def setUp(cores: Int, times: Int): (SparkSession, Seq[Double]) = {
    def ready(): SparkSession = {
      val s = newSession(cores)
      s.range(1).count()
      s
    }
    var spark = ready()
    val secs = ArrayBuffer((now() - jvmStart) / 1000)
    for (_ <- 2 to times) {
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      val t0 = now()
      spark = ready()
      secs += (now() - t0) / 1000
    }
    (spark, secs.toSeq)
  }

  // ---- probes

  /** Fixed, memo-free drift probe: a codegen aggregate over a synthetic
    * range and a small parquet scan, each planned afresh. */
  def sentinel(spark: SparkSession, dir: String): Double = {
    val t0 = now()
    spark.range(4000000).selectExpr("sum(id % 97)").collect()
    spark.read.parquet(s"$dir/supplier.parquet")
      .selectExpr("count(*)", "sum(hash(s_name))").collect()
    (now() - t0) / 1000
  }

  /** Heap still used after a full GC, in MB. The first GC hands Spark's
    * context cleaner the blocks, shuffles and broadcasts of earlier queries
    * that are now unreachable; a short pause lets it remove them, and a
    * second GC frees what they held, so the figure does not depend on which
    * query ran before. */
  def heapAfterGcMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Persistent RDDs the program still holds, and their cached size. */
  def held(spark: SparkSession): (Int, Double) = {
    val sc = spark.sparkContext
    val mb = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    (sc.getPersistentRDDs.size, mb)
  }

  // ---- digests

  def sha(lines: Iterator[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** Order-sensitive content digest of a result: schema, then every row in
    * the order the query returns it. */
  def digest(df: DataFrame): (String, Long) = {
    val rows = df.collect()
    (sha(Iterator(df.schema.simpleString) ++ rows.iterator.map(_.toString)), rows.length.toLong)
  }

  // ---- workloads

  private def arg(args: Array[String], k: String): Option[String] =
    args.collectFirst { case a if a.startsWith(k + "=") => a.drop(k.length + 1) }

  def main(args: Array[String]): Unit = {
    val mode = args(0)
    val out = arg(args, "out").get
    val cores = arg(args, "cores").map(_.toInt).getOrElse(4)
    val trace = arg(args, "trace").contains("1")
    val seconds = arg(args, "seconds").map(_.toDouble).getOrElse(10.0)
    val fields = ArrayBuffer.empty[(String, Any)]
    val (spark, setups) = setUp(cores, if (mode == "record") 1 else 5)
    fields += "setup_s" -> arr(setups.map(_.toString))
    mark("set-up")
    mode match {
      case "surface" =>
        surface(spark, arg(args, "dir").get, arg(args, "queries").get.split(',').toSeq,
          arg(args, "warmup").map(_.toInt).getOrElse(1), seconds, trace, fields)
      case "laplace" =>
        laplace(spark, arg(args, "n").map(_.toInt).getOrElse(256), cores,
          arg(args, "dir").get, seconds, trace, fields)
      case "record" =>
        record(spark, arg(args, "dir").get, fields)
    }
    spark.stop()
    val w = new PrintWriter(new File(out), "UTF-8")
    try w.println(obj(fields.toSeq: _*)) finally w.close()
    mark("run")
  }

  /** Run `pass` until `seconds` have gone by (at least once). */
  private def timedPasses(seconds: Double)(pass: Int => Unit): Unit = {
    val t0 = now()
    var i = 0
    while (i == 0 || now() - t0 < seconds * 1000) { pass(i); i += 1 }
  }

  def surface(root: SparkSession, dir: String, names: Seq[String], warmup: Int,
      seconds: Double, trace: Boolean, fields: ArrayBuffer[(String, Any)]): Unit = {
    val queries = SparkEntry.queries

    // Output check and JIT warm-up: one untimed pass that collects and
    // digests every panel query, each in a session of its own, in name order
    // whatever the seed, so every run's JIT has seen the same sequence
    // before the timed passes.
    val checks = names.sorted.map { n =>
      val r = try {
        val (d, rows) = digest(queries(n)(root.newSession(), dir))
        obj("digest" -> d, "rows" -> rows)
      } catch { case e: Throwable => obj("error" -> String.valueOf(e.getMessage).take(300)) }
      n -> Raw(r)
    }
    fields += "checks" -> Raw(obj(checks: _*))
    mark("output check")
    val sentinels = ArrayBuffer(sentinel(root, dir))

    // Every query runs in a fresh session, so no query finds a memo another
    // one built and a query's cost does not depend on the order. A warm-up
    // pass skips the heap probe between queries.
    def pass(label: String, rec: Option[Recorder], probe: Boolean = true): String = {
      val tr = new Tracer(label)
      rec.foreach(root.sparkContext.addSparkListener)
      val perQuery = ArrayBuffer.empty[String]
      tr.span("pass") {
        names.foreach { n =>
          val spark = root.newSession()
          var ok = true
          var phases = Seq.empty[(String, Any)]
          val (_, q) = try tr.span("query:" + n) {
            val (df, _) = tr.span("construct")(queries(n)(spark, dir))
            tr.span("plan")(df.queryExecution.executedPlan)
            tr.span("execute")(df.write.format("noop").mode("overwrite").save())
            phases = df.queryExecution.tracker.phases.toSeq.map { case (k, v) =>
              k -> (v.endTimeMs - v.startTimeMs).toDouble }
          } catch {
            case e: Throwable =>
              ok = false
              System.err.println(s"[perfbench] $n failed: ${e.getMessage}")
              ((), tr.spans.last)
          }
          // between queries, outside every query span
          val heap = if (probe) heapAfterGcMb() else 0.0
          val (nHeld, mbHeld) = held(spark)
          perQuery += obj(Seq[(String, Any)]("name" -> n, "ok" -> ok,
            "wall_s" -> (q.end - q.start) / 1000, "span" -> q.id,
            "heap_mb" -> heap, "held_rdds" -> nHeld, "held_mb" -> mbHeld,
            "phases_ms" -> Raw(obj(phases: _*))): _*)
        }
      }
      rec.foreach { r => r.drain(); root.sparkContext.removeSparkListener(r) }
      obj(Seq[(String, Any)]("label" -> label, "queries" -> arr(perQuery),
        "spans" -> tr.json) ++ rec.map(_.json).getOrElse(Nil): _*)
    }

    // The first pass after the check is still JIT-warming, about 18 % slower
    // than the next, so it is not timed.
    for (i <- 0 until warmup) pass(s"warmup-$i", None, probe = false)
    mark("warm-up")
    val passes = ArrayBuffer.empty[String]
    timedPasses(seconds)(i => passes += pass(s"untraced-$i", None))
    mark("timed passes")
    if (trace) {
      passes += pass("traced", Some(new Recorder))
      fields += "tables_read_ms" -> Raw(obj(tableReads(root, dir): _*))
    }
    sentinels += sentinel(root, dir)
    fields += "passes" -> arr(passes)
    fields += "sentinel_s" -> arr(sentinels.map(_.toString))
  }

  /** Relation build per fixture table, in a fresh session, outside any pass. */
  def tableReads(root: SparkSession, dir: String): Seq[(String, Any)] = {
    val s = root.newSession()
    val names = new File(dir).list().filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    names.toSeq.map { t =>
      val t0 = now()
      if (t == "events") Tables.events(s, dir) else Tables.table(s, dir, t)
      t -> (now() - t0)
    }
  }

  /** Benchmark-owned sequential red-black SOR (the reference's
    * laplace-seq.c loop): expected iteration count, final diff and grid. */
  def scalarSolve(n: Int): (Int, Double, Array[Array[Double]]) = {
    val omega = Laplace.omega(n)
    val eps = Laplace.epsilon(n)
    val g = Array.tabulate(n, n)((i, j) => Laplace.initialValue(i, j, n))
    var iterations = 0
    var maxDiff = 0.0
    var more = true
    while (more) {
      maxDiff = 0.0
      var color = 0
      while (color < 2) {
        var i = 1
        while (i < n - 1) {
          val up = g(i - 1); val row = g(i); val down = g(i + 1)
          var j = 1 + (if (i % 2 == color) 1 else 0)
          while (j < n - 1) {
            val tmp = (up(j) + down(j) + row(j - 1) + row(j + 1)) / 4.0
            val old = row(j)
            row(j) = (1.0 - omega) * old + omega * tmp
            val diff = math.abs(old - row(j))
            if (diff > maxDiff) maxDiff = diff
            j += 2
          }
          i += 1
        }
        color += 1
      }
      iterations += 1
      more = maxDiff > eps
    }
    (iterations, maxDiff, g)
  }

  def gridDigest(rows: Iterator[(Int, Int, Double)]): String =
    sha(rows.map { case (i, j, v) => s"$i $j ${java.lang.Double.doubleToRawLongBits(v)}" })

  def laplace(root: SparkSession, n: Int, cores: Int, dir: String, seconds: Double,
      trace: Boolean, fields: ArrayBuffer[(String, Any)]): Unit = {
    // JIT warm-up on a small grid and of the probe itself, untimed
    BlockSolver.solve(root.newSession(), 32, numBlocks = cores).grid.orderBy("i", "j")
      .write.format("noop").mode("overwrite").save()
    sentinel(root, dir)
    val sentinels = ArrayBuffer(sentinel(root, dir))

    val t0 = now()
    val (sIters, sDiff, sGrid) = scalarSolve(n)
    val scalarS = (now() - t0) / 1000
    mark("scalar baseline")
    val expected = gridDigest(for (i <- Iterator.range(0, n); j <- Iterator.range(0, n))
      yield (i, j, sGrid(i)(j)))

    def solve(label: String, rec: Option[Recorder]): String = {
      val spark = root.newSession()
      val tr = new Tracer(label)
      rec.foreach(spark.sparkContext.addSparkListener)
      var check = Seq.empty[(String, Any)]
      val (grid, s) = tr.span("solve") {
        val r = BlockSolver.solve(spark, n, numBlocks = cores)
        val g = r.grid.orderBy("i", "j")
        g.write.format("noop").mode("overwrite").save()
        check = Seq("iterations" -> r.iterations, "final_diff" -> r.finalDiff)
        g
      }
      rec.foreach { r => r.drain(); spark.sparkContext.removeSparkListener(r) }
      // output check, outside the timed span
      val got = gridDigest(grid.collect().iterator.map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))))
      val heap = heapAfterGcMb()
      val (nHeld, mbHeld) = held(spark)
      obj(Seq[(String, Any)]("label" -> label, "solve_s" -> (s.end - s.start) / 1000,
        "span" -> s.id, "grid_digest" -> got, "heap_mb" -> heap,
        "held_rdds" -> nHeld, "held_mb" -> mbHeld, "spans" -> tr.json) ++ check ++
        rec.map(_.json).getOrElse(Nil): _*)
    }

    val solves = ArrayBuffer.empty[String]
    timedPasses(seconds)(i => solves += solve(s"untraced-$i", None))
    mark("timed solves")
    if (trace) solves += solve("traced", Some(new Recorder))
    sentinels += sentinel(root, dir)
    fields += "solves" -> arr(solves)
    fields += "expected" -> Raw(obj("iterations" -> sIters, "final_diff" -> sDiff,
      "grid_digest" -> expected, "scalar_s" -> scalarS))
    fields += "n" -> n
    fields += "sentinel_s" -> arr(sentinels.map(_.toString))
  }

  /** Digest and cold time of every query, each in a fresh session. */
  def record(root: SparkSession, dir: String, fields: ArrayBuffer[(String, Any)]): Unit = {
    val rows = SparkEntry.queries.toSeq.sortBy(_._1).map { case (n, fn) =>
      val t0 = now()
      val r = try {
        val (d, k) = digest(fn(root.newSession(), dir))
        obj("digest" -> d, "rows" -> k, "cold_s" -> (now() - t0) / 1000)
      } catch { case e: Throwable => obj("error" -> String.valueOf(e.getMessage).take(300)) }
      System.err.println(s"[perfbench] recorded $n")
      n -> Raw(r)
    }
    fields += "queries" -> Raw(obj(rows: _*))
  }
}
