package perfbench

import java.io.{BufferedReader, ByteArrayInputStream, DataInputStream, InputStreamReader}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.unsafe.types.UTF8String

import graft.{SparkEntry, SparkTuning}
import graft.codec.{DnsWire, DnstapCodec}
import graft.dns.DnstapRows
import graft.sinks.{BatchSink, ParquetAppendSink}
import graft.sources.{FrameSocketServer, FrameStreams}
import graft.streaming.DnstapPipeline

/** JVM side of the benchmark. It only calls the program's public entry
  * points and records what it sees; every metric is computed by run.py
  * from the records this process writes to `<run_dir>/jvm.json`.
  *
  * Usage: `Harness <plan.json>`, or `Harness --oracle-sql <out.json> <query>...`
  * (see [[oracleSqlDump]]). The plan lists phases (`agg`, `fresh`,
  * `query`, `probes`). The process talks to run.py over stdout lines that
  * start with `@@` and reads its replies from stdin:
  *   - stream phases print `@@ READY <phase>` once the socket is bound;
  *     `WAIT <frames>` (an untimed warm feed) is answered with
  *     `@@ COMMITTED` once every query committed that many frames, and
  *     `DRAIN <frames>` waits the same way, then stops the queries;
  *   - probes that need traffic print `@@ FEED <probe> <socket>` and wait
  *     for `SENT <frames>`;
  *   - the query phase prints `@@ READY query`, waits for `GO` (its input
  *     tables are ready) and prints `@@ WARM_DONE` after its untimed pass.
  */
object Harness {
  private val mapper = new ObjectMapper()
  private val stdin = new BufferedReader(new InputStreamReader(System.in))

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000L
  }

  private def say(s: String): Unit = { println(s"@@ $s"); Console.flush() }

  private def expect(word: String): Long = {
    val line = stdin.readLine()
    require(line != null && line.startsWith(word + " "), s"expected '$word', got '$line'")
    line.substring(word.length + 1).trim.toLong
  }

  /** One record per Spark job, tagged with the streaming batch or the
    * benchmark call that submitted it. */
  final class JobLedger extends SparkListener {
    final class Job(val id: Int, val t0: Long, val tag: String, val batch: String,
                    val queryId: String, val mask: String) {
      @volatile var t1: Long = -1L
      val tasks = new AtomicLong(); val cpuNs = new AtomicLong()
      val runMs = new AtomicLong(); val gcMs = new AtomicLong()
      val shuffleWrite = new AtomicLong(); val shuffleRead = new AtomicLong()
    }
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties).getOrElse(new java.util.Properties())
      // the latency sampler publishes its mask width as a local property
      val mask = p.stringPropertyNames().asScala.find(_.startsWith("graft.sampler.maskBits."))
        .map(p.getProperty).getOrElse("")
      jobs.put(e.jobId, new Job(e.jobId, e.time * 1000L,
        p.getProperty("perfbench.tag", ""), p.getProperty("streaming.sql.batchId", ""),
        p.getProperty("sql.streaming.queryId", ""), mask))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.t1 = e.time * 1000L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (jid <- Option(stageJob.get(e.stageId)); j <- Option(jobs.get(jid));
           m <- Option(e.taskMetrics)) {
        j.tasks.incrementAndGet(); j.cpuNs.addAndGet(m.executorCpuTime)
        j.runMs.addAndGet(m.executorRunTime); j.gcMs.addAndGet(m.jvmGCTime)
        j.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      }

    /** Listener events arrive asynchronously: wait until every started
      * job has ended, or the timeout passes. */
    def settle(timeoutMs: Long = 5000L): Unit = {
      val deadline = System.currentTimeMillis() + timeoutMs
      while (jobs.values.asScala.exists(_.t1 < 0) && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
    }

    def records: java.util.List[java.util.Map[String, Any]] =
      jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
        Map[String, Any]("id" -> j.id, "t0" -> j.t0, "t1" -> j.t1, "tag" -> j.tag,
          "batch" -> j.batch, "query_id" -> j.queryId, "mask" -> j.mask, "tasks" -> j.tasks.get,
          "cpu_ns" -> j.cpuNs.get, "run_ms" -> j.runMs.get, "gc_ms" -> j.gcMs.get,
          "shuffle_write" -> j.shuffleWrite.get, "shuffle_read" -> j.shuffleRead.get).asJava
      }.asJava
  }

  /** Collection time of every garbage collector of this JVM so far (ms). */
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime.max(0L)).sum

  /** Timing decorator around a program sink: one record per write, with
    * the JVM's GC time so far when the write returned. */
  final class TimedSink(leg: String, inner: BatchSink,
                        out: ConcurrentLinkedQueue[java.util.Map[String, Any]]) extends BatchSink {
    override def write(df: DataFrame, batchId: Long): Unit = {
      val t0 = nowUs()
      try inner.write(df, batchId)
      finally out.add(Map[String, Any]("leg" -> leg, "batch" -> batchId,
        "t0" -> t0, "t1" -> nowUs(), "gc_ms" -> gcMs()).asJava)
    }
  }

  /** Benchmark-side sink: materialises every output row through
    * `queryExecution.toRdd` and sums `counter` per grouping set
    * (ungrouped, by address, by question), writing nothing. */
  final class SumSink extends BatchSink {
    val sums = new Array[Long](4) // ungrouped, byAddress, byQuestion, rows
    override def write(df: DataFrame, batchId: Long): Unit = {
      val s = df.schema
      val (ai, qi, ci) = (s.fieldIndex("queryAddress"), s.fieldIndex("questionName"),
        s.fieldIndex("counter"))
      val any = UTF8String.fromString("__ANY__")
      val part = df.queryExecution.toRdd.mapPartitions { it =>
        val a = new Array[Long](4)
        it.foreach { r =>
          val k = if (r.getUTF8String(ai) == any) 2 else if (r.getUTF8String(qi) == any) 1 else 0
          a(k) += r.getLong(ci); a(3) += 1
        }
        Iterator.single(a)
      }.collect()
      sums.synchronized(part.foreach(a => a.indices.foreach(i => sums(i) += a(i))))
    }
  }

  private def session(plan: Plan): SparkSession = {
    val run = plan.str("run_dir")
    val n = plan.int("nproc").toString
    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.ui.enabled", "false")
      .config(SparkTuning.ExcludedRulesKey, SparkTuning.ExcludedRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$run/spark-local")
      .config("spark.sql.warehouse.dir", s"$run/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Thin typed view of the JSON plan. */
  final class Plan(val m: java.util.Map[String, Any]) {
    def str(k: String): String = m.get(k).toString
    def int(k: String): Int = m.get(k).toString.toDouble.toInt
    def dbl(k: String): Double = m.get(k).toString.toDouble
    def strs(k: String): Seq[String] =
      m.get(k).asInstanceOf[java.util.List[Any]].asScala.map(_.toString).toSeq
    def plans(k: String): Seq[Plan] =
      m.get(k).asInstanceOf[java.util.List[java.util.Map[String, Any]]].asScala
        .map(new Plan(_)).toSeq
  }

  def main(args: Array[String]): Unit =
    if (args.head == "--oracle-sql") oracleSqlDump(args(1), args.drop(2).toSeq)
    else runPlan(args.head)

  /** `--oracle-sql <out.json> <query>...`: the DuckDB oracle SQL of each
    * query, without starting Spark, so oracles can be computed at build time. */
  private def oracleSqlDump(out: String, names: Seq[String]): Unit =
    Files.write(Paths.get(out), mapper.writeValueAsBytes(
      names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap.asJava))

  private def runPlan(planPath: String): Unit = {
    val plan = new Plan(mapper.readValue(Files.readAllBytes(Paths.get(planPath)),
      classOf[java.util.Map[String, Any]]))
    val out = mutable.LinkedHashMap[String, Any](
      "java_version" -> System.getProperty("java.version"),
      "t_jvm_start_us" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime * 1000L)
    val spark = session(plan)
    out("spark_version") = spark.version
    out("t_spark_ready_us") = nowUs()
    val ledger = new JobLedger
    spark.sparkContext.addSparkListener(ledger)
    val phases = mutable.LinkedHashMap[String, Any]()
    try {
      plan.plans("phases").foreach { ph =>
        val name = ph.str("kind")
        phases(name) = (name match {
          case "agg" | "fresh" => streamPhase(spark, plan, ph)
          case "query"         => queryPhase(spark, ph)
          case "probes"        => probesPhase(spark, plan, ph)
        }).asJava
        say(s"DONE $name")
      }
    } finally {
      ledger.settle()
      out("phases") = phases.asJava
      out("jobs") = ledger.records
      out("vm_hwm_kb") = vmHwmKb()
      Files.write(Paths.get(plan.str("run_dir"), "jvm.json"),
        mapper.writeValueAsBytes(out.asJava))
      say("EXIT")
      spark.stop()
    }
  }

  private def vmHwmKb(): Long =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)

  // ---------------------------------------------------------------- streams

  private def socketStream(spark: SparkSession, sock: String, readers: Int,
                           maxFramesPerTrigger: Long = 0L): Dataset[Array[Byte]] = {
    import spark.implicits._
    val r = spark.readStream.format("graft-dnstap")
      .option("path", sock).option("readers", readers.toLong)
    (if (maxFramesPerTrigger > 0) r.option("maxFramesPerTrigger", maxFramesPerTrigger) else r)
      .load().select(col("value")).as[Array[Byte]]
  }

  private def awaitSocket(sock: String): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!Files.exists(Paths.get(sock)) && System.nanoTime() < deadline) Thread.sleep(10)
    require(Files.exists(Paths.get(sock)), s"socket $sock never bound")
  }

  /** Wait until every query committed `frames` source offsets. */
  private def drain(queries: Seq[StreamingQuery], frames: Long, timeoutS: Int): Boolean = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    def committed(q: StreamingQuery): Long =
      Option(q.lastProgress).flatMap(_.sources.headOption)
        .flatMap(s => Option(s.endOffset)).map(_.toLong).getOrElse(0L)
    while (queries.exists(committed(_) < frames) && System.nanoTime() < deadline) {
      queries.foreach(q => q.exception.foreach(e => throw e))
      Thread.sleep(10)
    }
    queries.forall(committed(_) >= frames)
  }

  private def streamPhase(spark: SparkSession, plan: Plan, ph: Plan): Map[String, Any] = {
    val run = plan.str("run_dir")
    val fresh = ph.str("kind") == "fresh"
    val sock = ph.str("sock")
    val writes = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
    val qSum = new SumSink; val rSum = new SumSink
    val sinks =
      if (fresh) {
        val o = ph.str("out")
        DnstapPipeline.Sinks(
          new TimedSink("queries", new ParquetAppendSink(s"$o/queries"), writes),
          new TimedSink("responses", new ParquetAppendSink(s"$o/responses"), writes),
          new TimedSink("samples", new ParquetAppendSink(s"$o/samples"), writes))
      } else
        DnstapPipeline.Sinks(new TimedSink("queries", qSum, writes),
          new TimedSink("responses", rSum, writes), new SumSink)
    val cfg =
      if (fresh) DnstapPipeline.Config()
      else DnstapPipeline.Config(clientResponseTimeSamples = false)
    val src = socketStream(spark, sock, ph.int("readers"), ph.int("max_frames_per_trigger"))
    val running = DnstapPipeline.start(spark, src,
      cfg, sinks, s"$run/ckpt-${ph.str("kind")}", instantTriggers = true)
    val res = mutable.LinkedHashMap[String, Any]()
    try {
      awaitSocket(sock)
      say(s"READY ${ph.str("kind")}")
      // WAIT <n>: an untimed warm feed is in; reply once it is committed
      var line = stdin.readLine()
      while (line != null && line.startsWith("WAIT ")) {
        require(drain(running, line.substring(5).trim.toLong, ph.int("drain_timeout_s")),
          "warm feed was not committed in time")
        say("COMMITTED")
        line = stdin.readLine()
      }
      require(line != null && line.startsWith("DRAIN "), s"expected DRAIN, got '$line'")
      res("drain_ok") = drain(running, line.substring(6).trim.toLong, ph.int("drain_timeout_s"))
    } finally running.foreach(_.stop())
    res("query_ids") = running.map(q => q.name -> q.id.toString).toMap.asJava
    res("progress") = running.map(q =>
      q.name -> q.recentProgress.map(_.json).toSeq.asJava).toMap.asJava
    res("sink_writes") = writes.asScala.toSeq.asJava
    res("sums") = Map("queries" -> qSum.sums.toSeq.asJava,
      "responses" -> rSum.sums.toSeq.asJava).asJava
    res.toMap
  }

  // ---------------------------------------------------------------- queries

  private def force(df: DataFrame): Unit = df.queryExecution.toRdd.foreach(_ => ())

  private def release(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  private def queryPhase(spark: SparkSession, ph: Plan): Map[String, Any] = {
    say("READY query")
    val go = stdin.readLine() // the tables are written while Spark starts
    require(go == "GO", s"expected GO, got '$go'")
    val dir = ph.str("data_dir")
    val names = ph.strs("queries")
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val sc = spark.sparkContext
    val res = mutable.LinkedHashMap[String, Any]()
    res("oracle_sql") = names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap.asJava
    // untimed warm pass, `warm_threads` queries at a time; its results are
    // the outputs the oracle compare reads. The list ends with the band-join
    // queries, the slowest to run cold, so submitting it reversed starts
    // them first and shortens the pass.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ph.int("warm_threads"))
    val warm = try {
      fns.reverse.map { case (n, fn) =>
        pool.submit(new java.util.concurrent.Callable[java.util.Map[String, Any]] {
          def call(): java.util.Map[String, Any] = {
            sc.setLocalProperty("perfbench.tag", s"warm:$n")
            val t0 = nowUs()
            val err = try {
              fn(spark, dir).write.mode("overwrite").parquet(s"${ph.str("result_dir")}/$n"); ""
            } catch { case e: Exception => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
            Map[String, Any]("name" -> n, "tag" -> s"warm:$n", "t0" -> t0, "t1" -> nowUs(),
              "error" -> err).asJava
          }
        })
      }.map(_.get())
    } finally pool.shutdown()
    release(spark)
    sc.setLocalProperty("perfbench.tag", null)
    res("warm") = warm.asJava
    say("WARM_DONE")
    // closed loop, one query at a time, until the window has passed and
    // every query ran at least `min_execs` times
    val execs = Seq.newBuilder[java.util.Map[String, Any]]
    val count = mutable.Map[String, Int]().withDefaultValue(0)
    val tEnd = System.nanoTime() + (ph.dbl("seconds") * 1e9).toLong
    var i = 0
    while (System.nanoTime() < tEnd || fns.exists(f => count(f._1) < ph.int("min_execs"))) {
      val (n, fn) = fns(i % fns.size)
      val tag = s"q:$n:${count(n)}"
      sc.setLocalProperty("perfbench.tag", tag)
      val t0 = nowUs()
      val err = try { force(fn(spark, dir)); "" }
      catch { case e: Exception => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
      val t1 = nowUs()
      sc.setLocalProperty("perfbench.tag", null)
      release(spark)
      execs += Map[String, Any]("name" -> n, "tag" -> tag, "t0" -> t0, "t1" -> t1,
        "error" -> err).asJava
      count(n) += 1
      i += 1
    }
    res("execs") = execs.result().asJava
    res.toMap
  }

  // ---------------------------------------------------------------- probes

  /** The generator's frame pool, stored as framestream data frames. */
  private def loadPool(path: String): Array[Array[Byte]] = {
    val in = new DataInputStream(new java.io.BufferedInputStream(
      Files.newInputStream(Paths.get(path)), 1 << 20))
    val b = Array.newBuilder[Array[Byte]]
    try {
      while (in.available() > 0) {
        val a = new Array[Byte](in.readInt()); in.readFully(a); b += a
      }
    } finally in.close()
    b.result()
  }

  /** Repeat `body` (which processes `n` items) for at least `minS`
    * seconds after one warm call; returns the median ns per item. */
  private def nsPerItem(n: Long, minS: Double)(body: => Unit): Double = {
    body
    val samples = mutable.ArrayBuffer[Double]()
    val end = System.nanoTime() + (minS * 1e9).toLong
    while (System.nanoTime() < end || samples.size < 3) {
      val t0 = System.nanoTime(); body
      samples += (System.nanoTime() - t0).toDouble / n
    }
    samples.sorted.apply(samples.size / 2)
  }

  private def span(spans: ConcurrentLinkedQueue[java.util.Map[String, Any]], name: String)
                  (body: => Unit): Unit = {
    val t0 = nowUs()
    try body finally spans.add(Map[String, Any]("name" -> name, "t0" -> t0, "t1" -> nowUs()).asJava)
  }

  private def probesPhase(spark: SparkSession, plan: Plan, ph: Plan): Map[String, Any] = {
    import spark.implicits._
    val run = plan.str("run_dir")
    val res = mutable.LinkedHashMap[String, Any]()
    val spans = new ConcurrentLinkedQueue[java.util.Map[String, Any]]()
    val pool = loadPool(ph.str("pool"))
    val minS = ph.dbl("probe_seconds")
    val streamBytes = Files.readAllBytes(Paths.get(ph.str("pool")))
    var sink = 0L // consumes probe results so the JIT cannot drop the work

    span(spans, "probe.reader") {
      res("reader_ns_per_frame") = nsPerItem(pool.length, minS) {
        val r = new FrameStreams.Reader(new ByteArrayInputStream(streamBytes))
        var f = r.next()
        while (f.isDefined) { sink += f.get.length; f = r.next() }
      }
    }
    var decoded: Array[DnstapCodec.Frame] = null
    span(spans, "probe.decode") {
      res("decode_ns_per_frame") = nsPerItem(pool.length, minS) {
        decoded = pool.flatMap(DnstapCodec.decode(_).toSeq)
      }
    }
    val payloads = decoded.flatMap(_.message.toSeq.flatMap(m =>
      m.queryMessage.toSeq ++ m.responseMessage.toSeq))
    span(spans, "probe.dnswire") {
      res("dnswire_ns_per_msg") = nsPerItem(payloads.length, minS) {
        payloads.foreach(p => sink += DnsWire.parse(p).fold(0)(_.id))
      }
    }
    var rows = 0L
    span(spans, "probe.rows") {
      res("rows_ns_per_frame") = nsPerItem(decoded.length, minS) {
        rows = 0L
        decoded.foreach { f =>
          rows += DnstapRows.toQueryRows(f).size +
            DnstapRows.toResponseRows(f, keepSuccess = false).size
        }
      }
    }
    res("rows_per_frame") = rows.toDouble / pool.length
    res("frames_without_rows") = pool.count { b =>
      DnstapCodec.decode(b).forall(f => DnstapRows.toQueryRows(f).isEmpty &&
        DnstapRows.toResponseRows(f, keepSuccess = true).isEmpty)
    }.toLong
    res("pool_frames") = pool.length.toLong

    // socket intake alone: a counting consumer on the program's listener
    span(spans, "probe.intake") {
      val n = new AtomicLong(); val first = new AtomicLong(0L); val last = new AtomicLong(0L)
      val sock = ph.str("intake_sock")
      val h = FrameSocketServer.attach(sock, ph.int("readers"),
        FrameStreams.DefaultMaxFrameBytes) { _ =>
        val t = System.nanoTime()
        if (n.getAndIncrement() == 0L) first.set(t)
        last.set(t)
      }
      try {
        awaitSocket(sock)
        say(s"FEED intake $sock")
        val sent = expect("SENT")
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (n.get < sent && System.nanoTime() < deadline) Thread.sleep(5)
        res("intake_frames") = n.get
        res("intake_fps") = n.get / ((last.get - first.get) / 1e9)
      } finally h.close()
    }

    // socket source → micro-batches → a body that only materialises bytes
    span(spans, "probe.noop") {
      val sock = ph.str("noop_sock")
      val q = socketStream(spark, sock, ph.int("readers")).writeStream
        .queryName("perfbench-noop")
        .option("checkpointLocation", s"$run/ckpt-noop")
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (ds: Dataset[Array[Byte]], _: Long) =>
          ds.queryExecution.toRdd.foreach(r => r.getBinary(0).length); ()
        }.start()
      try {
        awaitSocket(sock)
        say(s"FEED noop $sock")
        val sent = expect("SENT")
        drain(Seq(q), sent, 60)
      } finally q.stop()
      res("noop_fps") = steadyFps(q)
    }

    // the W1 pipeline over an in-memory stream of the same frames
    span(spans, "probe.memsource") {
      implicit val ctx = spark.sqlContext
      val mem = MemoryStream[Array[Byte]](plan.int("nproc"))
      val running = DnstapPipeline.start(spark, mem.toDS(),
        DnstapPipeline.Config(clientResponseTimeSamples = false),
        DnstapPipeline.Sinks(new SumSink, new SumSink, new SumSink),
        s"$run/ckpt-mem", instantTriggers = true)
      val n = math.min(pool.length, ph.int("agg_frames"))
      val fps = try {
        Seq(n / 4, n).map { k =>  // a small warm round, then the measured one
          val t0 = System.nanoTime()
          // memory-stream offsets count addData calls, not frames
          val off = mem.addData(pool.take(k).toSeq).json.toLong
          require(drain(running, off, 120), "memsource probe did not drain")
          k / ((System.nanoTime() - t0) / 1e9)
        }.last
      } finally running.foreach(_.stop())
      res("memsource_fps") = fps
    }

    // the grouping-set aggregation alone, on a cached batch of rows
    span(spans, "probe.groupingsets") {
      val n = math.min(pool.length, ph.int("agg_frames"))
      val rowsDf = spark.createDataset(pool.take(n).toSeq)
        .flatMap(b => DnstapCodec.decode(b).toSeq.flatMap(DnstapRows.toQueryRows(_)))
        .toDF().cache()
      try {
        val inRows = rowsDf.count()
        val agg = DnstapPipeline.aggregateQueries(rowsDf, DnstapPipeline.Config())
        res("groupingsets_in_rows") = inRows
        res("groupingsets_out_rows") = agg.count()
        val ns = nsPerItem(inRows, minS)(force(agg))
        res("groupingsets_rows_per_s") = 1e9 / ns
      } finally { rowsDf.unpersist(blocking = true); () }
    }
    res("sink") = sink
    res("spans") = spans.asScala.toSeq.asJava
    res.toMap
  }

  /** Frames per second over the data batches after the first one. */
  private def steadyFps(q: StreamingQuery): Double = {
    val ps = q.recentProgress.filter(_.numInputRows > 0).drop(1)
    if (ps.isEmpty) 0.0
    else {
      val t0 = java.time.Instant.parse(ps.head.timestamp).toEpochMilli
      val last = ps.last
      val t1 = java.time.Instant.parse(last.timestamp).toEpochMilli +
        last.durationMs.get("triggerExecution").longValue
      ps.map(_.numInputRows).sum / ((t1 - t0) / 1e3)
    }
  }
}
