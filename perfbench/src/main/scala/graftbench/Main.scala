package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One benchmark process: `Main <workload> <dataDir> <inputFile> <outDir>
  * <seconds> <trace>`. Runs the workload on a local[4] session and writes
  * the raw measurements (latencies, pass times, spans, Spark job/stage
  * accounting, host-noise record) to `<outDir>/raw.json`; `run.py` turns
  * them into metrics and checks the outputs it finds in `<outDir>`. */
object Main {

  val Cores = 4

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, inputFile, outDir, secondsArg, traceArg) = args
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val sparkStart = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"graftbench-$workload")
      .config(graft.SparkTuning.kryoConf())
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.graphx.pregel.checkpointInterval", "10")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ui.retainedExecutions", "25")
      .config("spark.local.dir", s"$outDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.graft.writes.enabled", (workload == "cypher_write_mix").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(100000L).selectExpr("sum(id)").collect()
    val sparkStartS = (System.nanoTime() - sparkStart) / 1e9

    val host0 = HostNoise.sample()
    val trace = new Trace(spark.sparkContext)
    val ctx = Ctx(spark, dataDir, inputFile, outDir, seconds, trace)
    val result = workload match {
      case "cypher_serve" | "cypher_write_mix" => Serve.run(ctx, writes = workload == "cypher_write_mix", traced)
      case _ => Batch.run(ctx, traced)
    }
    val heapRetainedMb = retainedHeapMb()
    val host1 = HostNoise.sample()

    val out = result merge JObject(
      "workload" -> JString(workload),
      "spark_start_s" -> JDouble(sparkStartS),
      "host_before" -> host0,
      "host_after" -> host1,
      "vmhwm_kb" -> JLong(HostNoise.vmHwmKb()),
      "heap_retained_mb" -> JDouble(heapRetainedMb),
      "spans" -> (if (traced) trace.spansJson else JNothing))
    Files.write(Paths.get(outDir, "raw.json"),
      JsonMethods.compact(JsonMethods.render(out)).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** Wall seconds of `body`, and its value. */
  def timed[T](body: => T): (Double, T) = {
    val t0 = System.nanoTime()
    val v = body
    ((System.nanoTime() - t0) / 1e9, v)
  }

  /** Run `setup` `reps` times and return each rep's seconds and the last
    * rep's value. Every rep gets its own data-dir alias ("dir", "dir/.",
    * "dir/./.", …) so memoized sessions and path-keyed artifacts are
    * rebuilt rather than found. */
  def setupReps[T](reps: Int, dataDir: String)(setup: String => T): (Seq[Double], T) = {
    var last: Option[T] = None
    val times = (0 until reps).map { i =>
      val (s, v) = timed(setup(dataDir + "/." * i))
      last = Some(v)
      s
    }
    (times, last.get)
  }

  /** Heap still in use after a full collection once the workload is done:
    * what the session keeps (tables, indexes, caches, anything leaked). */
  def retainedHeapMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  /** CPU time this JVM has used, all threads, in seconds. */
  def cpuSeconds(): Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcMillis(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .stream().mapToLong(_.getCollectionTime).sum()

  def seqJson(xs: Iterable[Double]): JValue = JArray(xs.toList.map(JDouble(_)))
}

final case class Ctx(spark: SparkSession, dataDir: String, inputFile: String, outDir: String,
    seconds: Double, trace: Trace)

/** Host-noise record, copied from `graft.Bench`'s method: a fixed-work
  * single-thread xorshift loop (median of 3), the same loop on every core
  * at once, and the cumulative IO-pressure / steal counters. Recorded next
  * to the metrics; never used to drop or rescale a sample. */
object HostNoise {
  private val Iters = 50000000

  private def spin(): Long = {
    var x = 0x9E3779B97F4A7C15L
    var acc = 0L
    var i = 0
    while (i < Iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x
      i += 1
    }
    acc
  }

  def calibrate(): Double = (0 until 3).map { _ =>
    val t0 = System.nanoTime()
    if (spin() == 42L) System.err.println("calib sentinel")
    (System.nanoTime() - t0) / 1e9
  }.sorted.apply(1)

  def calibratePar(n: Int): Double = {
    val t0 = System.nanoTime()
    val threads = (0 until n).map(_ => new Thread(() => if (spin() == 42L) System.err.println("calib sentinel")))
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  private def slurp(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8)
    catch { case scala.util.control.NonFatal(_) => "" }

  /** (full IO-stall microseconds, steal jiffies) since boot. */
  def stallCounters(): (Long, Long) = {
    val io = "full.*total=(\\d+)".r.findFirstMatchIn(slurp("/proc/pressure/io"))
      .map(_.group(1).toLong).getOrElse(0L)
    val steal = slurp("/proc/stat").linesIterator.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
    (io, steal)
  }

  def sample(): JValue = {
    val (io, steal) = stallCounters()
    JObject("calib_s" -> JDouble(calibrate()), "calib_par_s" -> JDouble(calibratePar(Main.Cores)),
      "io_full_us" -> JLong(io), "steal_jiffies" -> JLong(steal))
  }

  def vmHwmKb(): Long = "VmHWM:\\s+(\\d+)".r.findFirstMatchIn(slurp("/proc/self/status"))
    .map(_.group(1).toLong).getOrElse(0L)
}
