package perfbench

import scala.collection.mutable

import graft.{Par, SparkEntry}
import org.apache.spark.sql.DataFrame

/** The closed-loop query workload (`query_mix`), one client.
  *
  * Set-up, through `Par.run`: one warm-up run of every distinct query,
  * which also writes its result for the oracle check. Timed phase:
  * seeded rounds, each a fresh permutation of the query list; only
  * whole rounds run, so every run times the same multiset of queries.
  * Each op builds its DataFrame through `SparkEntry` and writes it to
  * the noop sink.
  *
  * A traced run traces half of the ops and times the other half
  * untraced, so the tracing overhead is measured in the same process.
  */
object QueryLoop {
  final case class Op(q: String, round: Int, id: Long, startNs: Long, endNs: Long,
      ok: Boolean, traced: Boolean)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val dir = ctx.args("data")
    val names = ctx.args("queries").split(",").toSeq
    val res = ctx.res

    // warm-up: the first run of each distinct query, dumped for the
    // check, through Par.run, the engine's concurrent-warm path; each
    // task's own time and the call's wall are both recorded
    val oracle = SparkEntry.oracleSql
    new java.io.File(s"${ctx.work}/dump").mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"${ctx.work}/dump/oracle_sql.json"),
      Json.obj(names.flatMap(n => oracle.get(n).map(q => n -> Json.str(q)))))
    val t0 = System.nanoTime()
    val warm = Trace.span("Par", "run") {
      Par.run(spark, names.map { n => () =>
        val s = System.nanoTime()
        val err =
          try {
            SparkEntry.queries(n)(spark, dir).coalesce(1).write.mode("overwrite")
              .parquet(s"${ctx.work}/dump/$n")
            None
          } catch { case e: Throwable => Some(String.valueOf(e.getMessage).take(300)) }
        n -> ((System.nanoTime() - s) / 1e9, err)
      })
    }
    res.num("par_wall_s", (System.nanoTime() - t0) / 1e9)
    res.num("par_task_s", warm.map(_._2._1).sum)
    res.raw("warm", Json.obj(warm.map { case (n, (t, err)) =>
      n -> Json.obj(Seq("ms" -> Json.num(t * 1e3)) ++ err.map(m => "error" -> Json.str(m)))
    }))
    res.num("persisted_setup", spark.sparkContext.getPersistentRDDs.size)

    val built = mutable.Map[Long, Seq[(String, Long, Long)]]()
    val ops = timed(ctx, names, built)
    res.raw("ops", Json.arr(ops.map(o => Json.obj(Seq(
      "q" -> Json.str(o.q), "round" -> o.round.toString,
      "start_ms" -> Json.num(o.startNs / 1e6), "ms" -> Json.num((o.endNs - o.startNs) / 1e6),
      "ok" -> o.ok.toString, "traced" -> o.traced.toString)))))
    ctx.meter.foreach(m => layers(ctx, m, ops, built))
  }

  /** Runs the timed rounds; for traced ops, `built` receives the
    * planning phases (name, epoch-ms interval) of the built DataFrame. */
  private def timed(ctx: Ctx, names: Seq[String],
      built: mutable.Map[Long, Seq[(String, Long, Long)]]): Seq[Op] = {
    val spark = ctx.spark
    val dir = ctx.args("data")
    val rng = new scala.util.Random(ctx.seed)
    val traced = ctx.meter.isDefined
    val ops = mutable.ArrayBuffer[Op]()

    def runOp(q: String, round: Int, tr: Boolean): Op = {
      val id = ops.size + 1L
      val s = System.nanoTime()
      val ok =
        try {
          Trace.span("op", q, id) {
            val df = Meter.tagged(spark, id.toString, "build") {
              Trace.span("SparkEntry", "build", id) { SparkEntry.queries(q)(spark, dir) }
            }
            if (tr) built(id) = df.queryExecution.tracker.phases.toSeq.map { case (n, p) =>
              (n, p.startTimeMs, p.endTimeMs) }
            Meter.tagged(spark, id.toString, "write") {
              Trace.span("write", "noop", id) { noop(df) }
            }
          }
          true
        } catch { case _: Throwable => false }
      Op(q, round, id, s, System.nanoTime(), ok, tr)
    }

    ctx.firstOp()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    // whole rounds while time remains, and at least two, so the tail
    // percentile lies above the median. A traced run traces every other
    // op of an even round and the other queries in the odd round after
    // it, so each query is traced once per pair of rounds and traced
    // ops are spread over the whole timed phase
    var round = 0
    var pairTraced = Set.empty[String]
    while (round < 2 || elapsed < ctx.seconds || (traced && round % 2 == 1)) {
      val order = rng.shuffle(names)
      pairTraced =
        if (round % 2 == 0) order.indices.filter(_ % 2 == 0).map(order).toSet
        else names.toSet -- pairTraced
      order.foreach { q =>
        val tr = traced && pairTraced(q)
        Trace.on = tr
        if (tr) ctx.meter.get.attach()
        ops += runOp(q, round, tr)
        if (tr) ctx.meter.get.detach()
      }
      round += 1
    }
    Trace.on = traced
    ctx.res.num("timed_s", elapsed)
    ops.toSeq
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private val Layers = Set("SparkEntry", "Tables", "plans", "operators")

  /** Per-layer figures of the traced ops, as per-op means. The
    * intervals Spark measures (planning phases, the noop write's SQL
    * execution, Spark jobs) become spans under the innermost span that
    * holds them; each span's self time is its duration minus its
    * children's. The op's own time and the noop write's are the
    * harness's; every other self time belongs to a layer, and their sum
    * over the op wall is the coverage check. */
  private def layers(ctx: Ctx, m: Meter, ops: Seq[Op],
      built: mutable.Map[Long, Seq[(String, Long, Long)]]): Unit = {
    val res = ctx.res
    val tr = ops.filter(o => o.traced && o.ok)
    val traced = tr.map(_.id).toSet
    val timedSpans = Trace.all.filter(s => traced.contains(s.op)).groupBy(_.op)
    var jobs, stages, tasks, busy, waitMs, gc, shw, shr, spill, exch, scans = 0.0
    tr.foreach { o =>
      val ss = timedSpans.getOrElse(o.id, Nil)
      val root = ss.find(_.layer == "op").get
      // innermost first: a measured interval goes under the smallest
      // span that holds its midpoint
      var holders = ss.filter(_.layer != "op").sortBy(s => s.endNs - s.startNs)
      def place(layer: String, name: String, a: Long, b: Long): Trace.Span = {
        val mid = a / 2 + b / 2
        val parent = holders.find(s => s.startNs <= mid && mid <= s.endNs).getOrElse(root)
        Trace.add(parent.id, o.id, layer, name, math.max(a, parent.startNs), math.min(b, parent.endNs))
      }
      def merged(xs: Seq[(Long, Long)]): List[(Long, Long)] =
        xs.sorted.foldLeft(List.empty[(Long, Long)]) {
          case ((a, b) :: rest, (c, d)) if c <= b => (a, math.max(b, d)) :: rest
          case (acc, j) => j :: acc
        }
      // the SQL executions of the noop write (stage orchestration
      // included), then the Spark jobs (concurrent ones merged) and the
      // planning phases inside them
      merged(m.executionsOf(s"${o.id}/write")).foreach { case (a, b) =>
        val e = place("operators", "execution", Trace.nsOfMs(a), Trace.nsOfMs(b))
        holders = e +: holders
      }
      merged(Seq("build", "write").flatMap(ph => m.jobsOf(s"${o.id}/$ph"))).foreach {
        case (a, b) => place("operators", "jobs", Trace.nsOfMs(a), Trace.nsOfMs(b))
      }
      val plans = m.plansOf(s"${o.id}/write")
      (built.getOrElse(o.id, Nil) ++ plans.flatMap(_.phases)).foreach { case (n, a, b) =>
        place("plans", n, Trace.nsOfMs(a), Trace.nsOfMs(b))
      }
      Seq("build", "write").foreach { ph =>
        val a = m.acc(s"${o.id}/$ph")
        jobs += a.jobs.get; stages += a.stages.get; tasks += a.tasks.get
        busy += a.busyMs.get; waitMs += a.waitMs.get; gc += a.gcMs.get
        shw += a.shuffleWrite.get; shr += a.shuffleRead.get; spill += a.spill.get
      }
      plans.foreach { p => exch += p.exchanges; scans += p.scans }
    }
    val all = Trace.all.filter(s => traced.contains(s.op))
    val self = Trace.selfNs(all)
    def selfMs(f: Trace.Span => Boolean): Double = all.filter(f).map(s => self(s.id)).sum / 1e6
    def wallMs(f: Trace.Span => Boolean): Double = all.filter(f).map(_.ms).sum
    val n = tr.size.max(1).toDouble
    val wall = wallMs(_.layer == "op")
    val exec = selfMs(_.layer == "operators")
    val covered = selfMs(s => Layers.contains(s.layer))
    def put(k: String, v: Double): Unit = res.num(s"layer.$k", v)
    put("SparkEntry.build_ms", wallMs(_.layer == "SparkEntry") / n)
    put("SparkEntry.self_ms", selfMs(_.layer == "SparkEntry") / n)
    put("Tables.self_ms", selfMs(_.layer == "Tables") / n)
    Seq("analysis" -> "analysis_ms", "optimization" -> "optimize_ms", "planning" -> "physical_ms")
      .foreach { case (ph, k) => put(s"plans.$k", wallMs(s => s.layer == "plans" && s.name == ph) / n) }
    put("plans.exchanges", exch / n)
    put("plans.scans", scans / n)
    put("operators.exec_ms", exec / n)
    put("operators.orchestration_ms",
      selfMs(s => s.layer == "operators" && s.name == "execution") / n)
    put("operators.jobs", jobs / n)
    put("operators.stages", stages / n)
    put("operators.tasks", tasks / n)
    put("operators.task_busy_ms", busy / n)
    put("operators.busy_share", if (exec > 0) busy / (exec * ctx.cores) else 0.0)
    put("operators.task_wait_ms", waitMs / n)
    put("operators.shuffle_write_bytes", shw / n)
    put("operators.shuffle_read_bytes", shr / n)
    put("operators.spill_bytes", spill / n)
    put("operators.gc_ms", gc / n)
    put("trace.harness_ms", (wall - covered) / n)
    put("trace.self_sum_share", if (wall > 0) covered / wall else 0.0)
    // per source table: the mean wall time of one Tables call
    all.filter(_.layer == "Tables").groupBy(_.name).foreach { case (t, xs) =>
      put(s"Tables.resolve_ms.$t", xs.map(_.ms).sum / xs.size)
    }
  }
}
