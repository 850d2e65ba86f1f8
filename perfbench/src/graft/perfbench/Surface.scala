package graft.perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.{SparkEntry, Tables}

/** The closed-loop batch workload: one client calls the stored-table
  * builds the listed query rows read, then each listed row once cold and
  * then again, pass after pass, until the run's seconds are spent.
  */
object Surface {
  val Inputs = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  val SetupCycles = 3
  val MinPasses = 2

  /** Row count plus two order-independent 32-bit hash sums over all
    * columns (taken in column-name order), so a result's fingerprint
    * does not depend on its row or column order.
    */
  def fingerprint(df: DataFrame): Seq[Long] = {
    val named = df.columns.zipWithIndex.sortBy { case (n, i) => (n, i) }
    val pos = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = named.toSeq.map { case (_, i) =>
      pos.schema(i).dataType match {
        case _: MapType => array_sort(map_entries(col(s"c$i")))
        case _ => col(s"c$i")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = pos.agg(count(lit(1)),
      coalesce(sum(h.bitwiseAND(0xFFFFFFFFL)), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    Seq(r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def rows(o: Opts): Seq[String] =
    Files.readAllLines(Paths.get(o.input.getOrElse(sys.error("--input <rows file>"))))
      .asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).toSeq

  private def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def run(o: Opts): Map[String, Any] = {
    val listed = rows(o)
    val unknown = listed.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query rows: ${unknown.mkString(", ")}")
    val spans = new Spans
    val setup = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var inputRows = 0L
    for (i <- 0 until SetupCycles) {
      val t0 = System.currentTimeMillis()
      spark = Main.session(o)
      inputRows = Inputs.map(t => Tables.table(spark, o.data, t).count()).sum
      val t1 = System.currentTimeMillis()
      setup += (t1 - t0) / 1e3
      spans.add("setup", t0, t1, attrs = Map("cycle" -> i))
      if (i < SetupCycles - 1) spark.stop()
    }
    val trace = if (o.trace) {
      val t = new Trace
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None

    // one call: the row's function and the fingerprint of its result
    def call(kind: String, name: String, pass: Int)(f: => Option[Seq[Long]]): Map[String, Any] = {
      val c0 = Main.cpuSeconds()
      val t0 = System.currentTimeMillis()
      val n0 = System.nanoTime()
      val (fp, err) = try (f, None) catch {
        case e: Throwable => (None, Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"))
      }
      val wall = (System.nanoTime() - n0) / 1e9
      val t1 = System.currentTimeMillis()
      val cpu = Main.cpuSeconds() - c0
      spans.add(kind, t0, t1, attrs = Map("row" -> name, "pass" -> pass))
      release(spark)
      Json.obj("kind" -> kind, "name" -> name, "pass" -> pass, "wall_s" -> wall,
        "cpu_s" -> cpu, "start_ms" -> t0, "end_ms" -> t1, "fingerprint" -> fp,
        "error" -> err)
    }

    // the stored tables the listed rows read, in dependency order
    val rank = SparkEntry.buildOrder.zipWithIndex.toMap
    val buildNames = listed.flatMap(SparkEntry.buildDeps.getOrElse(_, Nil)).distinct
      .sortBy(n => (rank.getOrElse(n, Int.MaxValue), n))
    val builds = buildNames.map { n =>
      call("build", n, 0) { SparkEntry.builds(n)(spark, o.data); None }
    }
    def query(n: String, pass: Int) =
      call("query", n, pass)(Some(fingerprint(SparkEntry.queries(n)(spark, o.data))))
    val first = listed.map(query(_, 0))
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    var pass = 0
    // at least two passes: the p75 of the per-call walls needs 40 calls
    while (pass < MinPasses || System.nanoTime() < deadline) {
      pass += 1
      val c0 = Main.cpuSeconds()
      val calls = listed.map(query(_, pass))
      passes += Json.obj("pass" -> pass, "cpu_s" -> (Main.cpuSeconds() - c0),
        "calls" -> calls)
    }
    trace.foreach(_ => Trace.drain(spark.sparkContext))
    def traced(c: Map[String, Any]): Map[String, Any] = trace.fold(c)(t =>
      c + ("trace" -> t.window(c("start_ms").asInstanceOf[Long],
        c("end_ms").asInstanceOf[Long] + 1)))
    def tracedCalls(p: Map[String, Any]): Map[String, Any] =
      p + ("calls" -> p("calls").asInstanceOf[Seq[Map[String, Any]]].map(traced))
    Json.obj(
      "kind" -> "batch", "workload" -> o.workload, "cores" -> o.cores,
      "setup_s" -> setup, "input_rows" -> inputRows,
      "builds" -> builds.map(traced), "first" -> first.map(traced),
      "passes" -> passes.map(tracedCalls),
      "rss_peak_mb" -> Main.rssPeakMb(),
      "spans" -> (if (o.trace) spans.all else Nil))
  }

  /** Fingerprints of every result in a `graft.Verify` dump directory. */
  def record(o: Opts): Map[String, Any] = {
    val spark = Main.session(o)
    val dirs = new File(o.input.getOrElse(sys.error("--input <verify dump>")))
      .listFiles().filter(_.isDirectory).sortBy(_.getName)
    scala.collection.immutable.ListMap(dirs.toSeq.map { d =>
      d.getName -> fingerprint(spark.read.parquet(d.getAbsolutePath))
    }: _*)
  }
}
