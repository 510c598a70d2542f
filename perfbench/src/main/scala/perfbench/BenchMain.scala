package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The measuring process of the benchmark. `run.py` generates the inputs,
  * starts this main once per run and reads back `result.json`.
  *
  * One thread submits jobs in a closed loop (one client). A query pass
  * runs every query of the workload once, in an order drawn from the seed;
  * the first of the untimed warm-up passes writes each query's output for
  * the correctness check. A maef pass runs the next window of the
  * sequence, as a scheduled pipeline would (the warm-up passes run the
  * first ones), and saves its outputs for the check after its timing ends.
  * The `warmups` untimed passes last until the passes stop getting faster
  * as the JIT compiles the hot paths (measured: the second and third pass
  * 15-30% slower than the later ones, whose medians a single warm-up pass
  * left on that slope). A run then times a fixed number of passes,
  * `passes` (two more when traced), however long they take: maef windows
  * upsert into a table that grows, so a pass count that rose with speed
  * would move the medians to later passes. With `trace=1` untraced and
  * traced passes alternate, so the tracing overhead is measured inside one
  * process.
  *
  * Arguments are `key=value` pairs: workload, seed, warmups, passes,
  * trace, data, out, run, and jobs (comma-separated query names) or
  * windows (`start:end,...`, one per warm-up and timed pass). */
object BenchMain {

  final case class JobTime(pass: Int, name: String, startMs: Double, endMs: Double,
                           ok: Boolean, error: String, leftBytes: Long)

  def main(argv: Array[String]): Unit = {
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val traceOn = a("trace") == "1"
    val dataDir = a("data")
    val outDir = a("out")
    val runDir = a("run")
    val n = Runtime.getRuntime.availableProcessors()
    // traced runs time A B B A A ...
    val timedPasses = a("passes").toInt + (if (traceOn) 2 else 0)
    val warmups = a("warmups").toInt
    if (workload == "maef_pipeline")
      require(a("windows").split(",").length == warmups + timedPasses,
        "need one window per warm-up and timed pass")

    val spark = SparkSession.builder()
      .master(s"local[$n]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val tracer = new Tracer(false)
    val listeners = new Listeners
    spark.sparkContext.addSparkListener(listeners)
    spark.listenerManager.register(listeners)
    spark.streams.addListener(listeners.streaming)

    val jobs: Seq[Job] = workload match {
      case "maef_pipeline" =>
        val table = s"$runDir/maef/attribution_customer_journey"
        a("windows").split(",").toSeq.zipWithIndex.map { case (w, i) =>
          val Array(s, e) = w.split(":")
          new MaefJob(f"w$i%02d_${s}_$e", s, e, dataDir, s"$runDir/maef/w$i", table)
        }
      case _ =>
        a("jobs").split(",").toSeq.map(q => new QueryJob(q, dataDir))
    }

    val scratchKey = dataDir.replaceAll("[^A-Za-z0-9._-]", "_")
    def programScratch: Seq[File] =
      Option(new File("/tmp").listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("graft_") && f.getName.contains(scratchKey))
    def leftBytes(): Long =
      (programScratch :+ new File(s"$runDir/maef")).map(Disk.bytes).sum
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      programScratch.foreach(Disk.delete)
      jobs.foreach(_.clean())
    }

    val times = ArrayBuffer.empty[JobTime]
    def runPass(pass: Int, traced: Boolean, collectTo: Option[String]): Unit = {
      val order =
        if (workload != "maef_pipeline") new Random(seed * 7919L + pass).shuffle(jobs)
        else Seq(jobs(warmups + pass))
      order.foreach { job =>
        val idx = times.size
        tracer.job = idx
        val t0 = tracer.nowMs
        val err = try { tracer.span("job") { job.run(spark, tracer, collectTo) }; "" }
                  catch { case e: Throwable =>
                    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}" }
        val t1 = tracer.nowMs
        // the job's listener events, then those of saving and clean-up,
        // which are dropped
        if (traced) listeners.settle(spark.sparkContext, idx)
        times += JobTime(pass, job.name, t0, t1, err.isEmpty, err, leftBytes())
        if (err.isEmpty) job.save(s"$outDir/results")
        cleanup()
        if (traced) listeners.settle(spark.sparkContext, -1)
      }
    }

    if (workload != "maef_pipeline") {
      val oracle = jobs.map(j => j.name -> Json.str(graft.SparkEntry.oracleSql(j.name)))
      Files.write(Paths.get(s"$outDir/oracle_sql.json"),
        Json.obj(oracle).getBytes(StandardCharsets.UTF_8))
    }
    // untimed warm-up passes; the first, run cold, writes the outputs for
    // the check
    (-warmups until 0).foreach { pass =>
      runPass(pass, traced = false, if (pass == -warmups) Some(s"$outDir/results") else None)
    }
    val firstTimedMs = System.currentTimeMillis()

    val passes = (0 until timedPasses).map { pass =>
      val traced = traceOn && (pass % 4 == 1 || pass % 4 == 2)
      tracer.enabledNow = traced
      listeners.setActive(spark.sparkContext, traced)
      runPass(pass, traced, None)
      (pass, traced)
    }
    tracer.enabledNow = false
    listeners.setActive(spark.sparkContext, false)
    val hwmKb = Disk.vmHwmKb()

    val layers =
      if (traceOn) Layers.compute(n, passes.filter(_._2).map(_._1).toSet,
        times.toSeq, tracer.spans.toSeq, tracer.notes.toSeq, listeners,
        s"$runDir/maef/attribution_customer_journey")
      else Map.empty[String, Double]

    val env = Map(
      "nproc" -> n.toString,
      "N" -> n.toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_xmx_mb" -> (Runtime.getRuntime.maxMemory >> 20).toString,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version)
    val json = new StringBuilder
    json ++= "{"
    json ++= s""""session_ready_ms": $sessionReadyMs, "first_timed_ms": $firstTimedMs, """
    json ++= s""""vm_hwm_kb": $hwmKb, """
    json ++= "\"env\": " + Json.obj(env.map { case (k, v) => k -> Json.str(v) }) + ", "
    json ++= "\"passes\": " + passes.map { case (p, t) =>
      s"""{"pass": $p, "traced": $t}""" }.mkString("[", ", ", "]") + ", "
    json ++= "\"jobs\": " + times.map { t =>
      s"""{"pass": ${t.pass}, "name": ${Json.str(t.name)}, "lat_s": ${(t.endMs - t.startMs) / 1e3}, """ +
        s""""ok": ${t.ok}, "error": ${Json.str(t.error)}, "left_bytes": ${t.leftBytes}}"""
    }.mkString("[\n", ",\n", "]") + ", "
    json ++= "\"layers\": " + Json.obj(layers.map { case (k, v) => k -> Json.num(v) }) + ", "
    json ++= "\"spans\": " + tracer.spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "job": ${s.job}, "name": ${Json.str(s.name)}, """ +
        s""""start_ms": ${Json.num(s.startMs)}, "end_ms": ${Json.num(s.endMs)}}"""
    }.mkString("[\n", ",\n", "]")
    json ++= "}\n"
    Files.write(Paths.get(s"$outDir/result.json"), json.toString.getBytes(StandardCharsets.UTF_8))
    cleanup()
    spark.stop()
  }
}

/** One unit of work a client submits and waits for. */
trait Job {
  def name: String
  /** Runs the job. A query job given `collectTo` writes its output there
    * for the correctness check instead of only materialising it. */
  def run(spark: SparkSession, tracer: Tracer, collectTo: Option[String]): Unit
  /** Called after the job's timing ends: saves what the check needs
    * (the maef windows, which are checked after every run). */
  def save(dir: String): Unit = ()
  /** Called after every job: deletes what the job left that the next one
    * does not need. */
  def clean(): Unit = ()
}

/** `SparkEntry.queries(name)(spark, dir)` driven through the noop sink.
  * The noop sink materialises every output column; `count()` would let
  * Catalyst prune work the query's result depends on. */
final class QueryJob(val name: String, dataDir: String) extends Job {
  def run(spark: SparkSession, tracer: Tracer, collectTo: Option[String]): Unit = {
    val df: DataFrame = tracer.span("entry.construct") {
      graft.SparkEntry.queries(name)(spark, dataDir)
    }
    tracer.note("catalyst.analysis_ms",
      df.queryExecution.tracker.phases.get("analysis").map(_.durationMs).getOrElse(0L).toDouble)
    tracer.span("sink") {
      collectTo match {
        case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
        case None      => df.write.mode("overwrite").format("noop").save()
      }
    }
  }
}

object Disk {
  def bytes(f: File): Long =
    if (!f.exists()) 0L
    else if (f.isFile) f.length()
    else Option(f.listFiles()).toSeq.flatten.map(bytes).sum

  def files(f: File): Int =
    if (!f.exists()) 0
    else if (f.isFile) 1
    else Option(f.listFiles()).toSeq.flatten.map(files).sum

  def delete(f: File): Unit = {
    if (f.isDirectory && !Files.isSymbolicLink(f.toPath))
      Option(f.listFiles()).toSeq.flatten.foreach(delete)
    f.delete()
  }

  def vmHwmKb(): Long = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status")).toArray(Array.empty[String])
    lines.find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
