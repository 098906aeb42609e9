package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark process: one workload in a fresh JVM. Arguments are
  * `--key value` pairs (see perfbench/run.py, which generates the
  * inputs, launches this main and checks and summarizes its result).
  * The raw samples go to the JSON file named by `--out`.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val traced = a("trace") == "1"
    if (traced) TablesHook.install()
    Trace.on = traced
    val res = new Result
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = Trace.span("GraftSession", "local") { graft.GraftSession.local(cores) }
    spark.sparkContext.setLogLevel("WARN")
    res.num("session_start_s", (System.nanoTime() - t0) / 1e9)
    res.num("cores", cores)
    val meter = if (traced) Some(new Meter(spark)) else None
    val ctx = Ctx(spark, a, res, meter, cores,
      firstOp = () => res.num("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3))
    try a("workload") match {
      case "query_mix" => QueryLoop.run(ctx)
      case "ingest" => Ingest.run(ctx)
      case w => sys.error(s"unknown workload $w")
    } finally {
      val sc = spark.sparkContext
      res.num("persisted_end", sc.getPersistentRDDs.size)
      res.num("cached_mb", sc.getRDDStorageInfo.map(_.memSize).sum / 1048576.0)
      if (traced) Trace.dump(a("work") + "/spans.jsonl")
      res.write(a("out"))
      spark.stop()
    }
  }
}

final case class Ctx(spark: SparkSession, args: Map[String, String], res: Result,
    meter: Option[Meter], cores: Int, firstOp: () => Unit) {
  def seconds: Double = args("seconds").toDouble
  def seed: Long = args("seed").toLong
  def work: String = args("work")
}

/** Result fields, written as one JSON object (values pre-rendered). */
final class Result {
  private val fields = mutable.LinkedHashMap[String, String]()
  def num(k: String, v: Double): Unit = synchronized { fields(k) = Json.num(v) }
  def raw(k: String, json: String): Unit = synchronized { fields(k) = json }
  def write(path: String): Unit = synchronized {
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.writeString(tmp, Json.obj(fields))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(path),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
