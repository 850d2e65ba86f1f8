package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession
import graft.streaming.GraftStreams

/** Options shared by every workload; run.py passes them all. */
final case class Opts(mode: String, workload: String, seed: Long,
                      seconds: Int, trace: Boolean, cores: Int,
                      work: File, data: String, out: File,
                      rate: Option[Int], input: Option[String]) {
  def isStream: Boolean = workload.startsWith("stream_")
}

/** Benchmark driver. Modes:
  *  - `run`: one workload, raw record (samples, counters, checks) to `--out`;
  *  - `probe`: a stream workload at `--rate`, batch/commit/busy figures;
  *  - `record`: fingerprints of a `graft.Verify` dump at `--input`;
  *  - `list`: every registered query and build name.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(
      mode = kv.getOrElse("mode", "run"),
      workload = kv.getOrElse("workload", ""),
      seed = kv.get("seed").map(_.toLong).getOrElse(1L),
      seconds = kv.get("seconds").map(_.toInt).getOrElse(10),
      trace = kv.get("trace").contains("1"),
      cores = kv.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      work = new File(kv.getOrElse("work", "perfbench-work")),
      data = kv.getOrElse("data", ""),
      out = new File(kv.getOrElse("out", "perfbench-raw.json")),
      rate = kv.get("rate").map(_.toInt),
      input = kv.get("input"))
    o.work.mkdirs()
    val cpu0 = hostCpu()
    val record: Map[String, Any] = o.mode match {
      case "run" =>
        val r = if (o.isStream) Streams.run(o) else Surface.run(o)
        val Seq(total, steal) = hostCpu().zip(cpu0).map { case (a, b) => a - b }
        r + ("host_steal_share" -> (if (total > 0) steal / total else 0.0))
      case "probe" => Streams.probe(o)
      case "record" => Surface.record(o)
      case "list" => Json.obj(
        "queries" -> graft.SparkEntry.queries.keys.toSeq.sorted,
        "builds" -> graft.SparkEntry.builds.keys.toSeq.sorted)
      case m => sys.error(s"unknown mode $m")
    }
    Files.writeString(o.out.toPath, Json.render(record))
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** The shipped session: GraftSession at `cores` threads, plus RocksDB
    * state for stream workloads. Only file locations and the progress
    * history length are added, so every write stays in the work dir.
    */
  def session(o: Opts): SparkSession = {
    val b0 = GraftSession.builder(cores = o.cores, appName = "perfbench")
    val b = if (o.isStream) GraftStreams.withRocksDBState(b0) else b0
    val s = b
      .config("spark.local.dir", new File(o.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.work, "warehouse").getAbsolutePath)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Process CPU time of this JVM in seconds (all threads, GC and JIT). */
  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1e9
      case _ => Double.NaN
    }

  /** Host-wide CPU jiffies: (all states, stolen by the hypervisor). */
  def hostCpu(): Seq[Double] = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail
      .map(_.toDouble)
    Seq(f.sum, if (f.length > 7) f(7) else 0.0)
  }

  /** Peak resident set size of this process, in MB (Linux VmHWM). */
  def rssPeakMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** A timestamped progress line in the run's log. */
  def note(msg: String): Unit =
    System.err.println(s"${java.time.LocalTime.now()} perfbench: $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def rmTree(f: File): Unit = {
    val cs = f.listFiles()
    if (cs != null) cs.foreach(rmTree)
    f.delete(): Unit
  }
}
