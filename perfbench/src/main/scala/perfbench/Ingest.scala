package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.locks.ReentrantLock

import scala.jdk.CollectionConverters._

import graft.plugins.{IniConfig, PluginRegistry}
import graft.sources.UpsertSink
import graft.streaming.{IngestPipeline, StreamOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

/** The agent's own job as one Structured Streaming query: a watched
  * directory of parquet file batches → `IngestPipeline.enrich` →
  * `PluginRegistry.pipeline` (BSI, SPI) → `IngestPipeline.prioritySinks`
  * with the keyed upsert (`UpsertSink.upsert`) and the Kafka envelope
  * (`StreamOps.kafkaEnvelope`) written to parquet.
  *
  * After one warm-up batch (set-up), phase 1 drains a backlog placed
  * all at once.
  * Phase 2 is an open loop: one thread moves the pre-written files into
  * the watched directory at the offered rate, while a reader queries
  * the upsert table between batches. File-to-batch mapping is read from
  * the checkpoint afterwards; every time here is `System.nanoTime`.
  */
object Ingest {
  private val schema = StructType(Seq(
    StructField("path", StringType), StructField("content", StringType),
    StructField("host", StringType), StructField("mtime_ms", LongType)))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val a = ctx.args
    val res = ctx.res
    val work = ctx.work
    val staged = new File(work, "staged")
    val watch = new File(work, "watch")
    val table = new File(work, "upsert").getPath
    val envelope = new File(work, "envelope").getPath
    watch.mkdirs()
    val files = staged.listFiles().filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val nWarm = a("warm_files").toInt
    val nBacklog = a("backlog_files").toInt
    val rate = a("files_per_s").toDouble
    val recentDays = a("recent_days").split(",").toSeq
    def place(f: File): Unit =
      Files.move(f.toPath, new File(watch, f.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
    files.take(nWarm).foreach(place)

    val plugins = PluginRegistry.autoload(IniConfig.parse(
      new String(Files.readAllBytes(new File(work, "plugins.ini").toPath), "UTF-8")))
    val source = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", a("max_files_per_trigger")).parquet(watch.getPath)
    // ingestWithPlugins, composed from its public parts so the sinks
    // receive the processed records rather than the envelope alone
    val tagged = IngestPipeline.enrich(source)
      .withColumn("biz", element_at(split(col("path"), "/"), 1))
      .withColumn("folder_time", timestamp_millis(col("folder_time")))
      .withColumn("create_time", timestamp_millis(col("create_time")))
    val processed = PluginRegistry.pipeline(tagged, plugins)
      .withColumn("folder_time", unix_millis(col("folder_time")))
      .withColumn("create_time", unix_millis(col("create_time")))
      .drop("biz")

    val tableLock = new ReentrantLock(true)
    val batches = new ConcurrentLinkedQueue[String]()
    val traced = ctx.meter.isDefined
    @volatile var committed = 0L
    // time spent on traced-only work inside the batch path
    val traceExtraNs = new java.util.concurrent.atomic.AtomicLong(0L)
    def extra[T](body: => T): T = {
      val s = System.nanoTime()
      try body finally traceExtraNs.addAndGet(System.nanoTime() - s)
    }

    def partitions(): Map[String, Set[String]] =
      Option(new File(table).listFiles()).getOrElse(Array.empty[File])
        .filter(_.getName.startsWith("file_date=")).map { d =>
          d.getName -> d.list().filter(_.endsWith(".parquet")).toSet
        }.toMap

    val sinks = Seq(
      IngestPipeline.Sink("cassandra", 2, (b: DataFrame, id: Long) => {
        val before = if (traced) extra(partitions()) else Map.empty[String, Set[String]]
        val s = System.nanoTime()
        tableLock.lock()
        try Meter.tagged(spark, s"b$id", "upsert") {
          Trace.span("sources", "upsert", id) {
            UpsertSink.upsert(b.withColumn("upload_time", lit(id)), table)
          }
        } finally tableLock.unlock()
        val e = System.nanoTime()
        val rewritten =
          if (traced) extra(partitions().count { case (p, fs) => !before.get(p).contains(fs) })
          else -1
        batches.add(Json.obj(Seq("id" -> id.toString, "kind" -> Json.str("upsert"),
          "ms" -> Json.num((e - s) / 1e6), "partitions" -> rewritten.toString)))
      }),
      IngestPipeline.Sink("kafka", 1, (b: DataFrame, id: Long) => {
        val s = System.nanoTime()
        Meter.tagged(spark, s"b$id", "envelope") {
          Trace.span("sources", "envelope", id) {
            StreamOps.kafkaEnvelope(b).write.mode("append").parquet(envelope)
          }
        }
        val rows = if (traced) extra(b.count()) else -1L
        batches.add(Json.obj(Seq("id" -> id.toString, "kind" -> Json.str("envelope"),
          "ms" -> Json.num((System.nanoTime() - s) / 1e6), "rows" -> rows.toString)))
      }),
      // lowest priority: runs after every real sink has committed
      IngestPipeline.Sink("marker", 0, (_: DataFrame, id: Long) => {
        batches.add(Json.obj(Seq("id" -> id.toString, "kind" -> Json.str("end"),
          "end_ns" -> System.nanoTime().toString)))
        committed += 1
      }))

    val progress = new ConcurrentLinkedQueue[String]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        progress.add(Json.obj(Seq("id" -> p.batchId.toString,
          "rows" -> p.numInputRows.toString) ++
          p.durationMs.asScala.map { case (k, v) => k -> v.toString }))
      }
    }
    ctx.meter.foreach { m => m.attach(); spark.streams.addListener(listener) }

    val query = IngestPipeline.prioritySinks(processed, sinks)
      .option("checkpointLocation", new File(work, "ckpt").getPath)
      .start()
    // one read-back of the upsert table: the aggregate of one of the most
    // recent days, between batches (the upsert takes the same lock); ms
    def readBack(i: Int): Double = {
      tableLock.lock()
      val s = System.nanoTime()
      try Meter.tagged(spark, s"r$i", "readback") {
        Trace.span("readback", "query", -1) {
          spark.read.parquet(table).filter(col("file_date") === recentDays(i % recentDays.size))
            .agg(count(lit(1)), sum("size")).collect()
        }
      } finally tableLock.unlock()
      (System.nanoTime() - s) / 1e6
    }

    try {
      // set-up: the warm-up batch and a few warm-up read-backs; then
      // the backlog drain
      query.processAllAvailable()
      (0 until 3).foreach(readBack)
      ctx.firstOp()
      val start = System.nanoTime()
      files.slice(nWarm, nWarm + nBacklog).foreach(place)
      query.processAllAvailable()
      res.num("drain_s", (System.nanoTime() - start) / 1e9)

      // paced phase: open-loop placement + read-back between batches
      val paced = files.drop(nWarm + nBacklog)
      val sched = new ConcurrentLinkedQueue[String]()
      val reads = new ConcurrentLinkedQueue[String]()
      @volatile var pacing = true
      val reader = new Thread(() => {
        var seen = committed
        var i = 0
        while (pacing) {
          if (committed == seen) Thread.sleep(5)
          else {
            seen = committed
            // two read-backs per commit
            (0 until 2).foreach { _ => reads.add(Json.num(readBack(i))); i += 1 }
          }
        }
      }, "readback")
      reader.start()
      val t0 = System.nanoTime()
      paced.zipWithIndex.foreach { case (f, i) =>
        val due = t0 + (i / rate * 1e9).toLong
        var now = System.nanoTime()
        while (now < due) { Thread.sleep(math.max(0L, (due - now) / 1000000L).min(50L)); now = System.nanoTime() }
        val placed = System.nanoTime()
        place(f)
        sched.add(Json.obj(Seq("file" -> Json.str(f.getName), "due_ns" -> due.toString,
          "placed_ns" -> placed.toString)))
      }
      query.processAllAvailable()
      res.num("paced_s", (System.nanoTime() - t0) / 1e9)
      pacing = false
      reader.join()
      res.raw("schedule", Json.arr(sched.asScala))
      res.raw("reads_ms", Json.arr(reads.asScala))
    } finally {
      query.stop()
      ctx.meter.foreach { m => spark.streams.removeListener(listener); m.settle() }
    }
    res.num("trace_extra_s", traceExtraNs.get / 1e9)
    res.raw("batches", Json.arr(batches.asScala))
    res.raw("progress", Json.arr(progress.asScala))
    ctx.meter.foreach { m =>
      val up = (0L until committed).map(i => m.acc(s"b$i/upsert").bytesWritten.get)
      res.raw("upsert_bytes_written", Json.arr(up.map(_.toString)))
      // the sinks' Spark work, per batch
      val accs = (0L until committed).flatMap(i => Seq(m.acc(s"b$i/upsert"), m.acc(s"b$i/envelope")))
      val n = committed.max(1L).toDouble
      def per(f: m.Acc => Long): Double = accs.map(f(_)).sum / n
      Seq[(String, m.Acc => Long)](
        "jobs" -> (_.jobs.get), "stages" -> (_.stages.get), "tasks" -> (_.tasks.get),
        "task_busy_ms" -> (_.busyMs.get), "task_wait_ms" -> (_.waitMs.get),
        "shuffle_write_bytes" -> (_.shuffleWrite.get), "shuffle_read_bytes" -> (_.shuffleRead.get),
        "spill_bytes" -> (_.spill.get), "gc_ms" -> (_.gcMs.get))
        .foreach { case (k, f) => res.num(s"layer.operators.$k", per(f)) }
    }
  }
}
