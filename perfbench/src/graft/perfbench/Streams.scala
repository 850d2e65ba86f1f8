package graft.perfbench

import java.io.File
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.operators.Windows
import graft.streaming.{GraftStreams, StreamingFraud, TransactionGen}

/** One finished micro-batch, read from the engine's progress report. */
final case class Batch(id: Long, startMs: Long, endMs: Long, rows: Long,
                       startOff: Long, endOff: Long, watermarkMs: Long,
                       durations: Map[String, Long], state: Map[String, Double]) {
  def record: Map[String, Any] = Json.obj("id" -> id, "start_ms" -> startMs,
    "end_ms" -> endMs, "rows" -> rows, "start_off" -> startOff,
    "end_off" -> endOff, "watermark_ms" -> watermarkMs,
    "durations" -> durations, "state" -> state)
}

/** The two open-loop stream workloads: the rate-source transaction
  * stream at a fixed rate through a fraud pipeline into the alert
  * sink, on RocksDB state.
  */
object Streams {
  val Accounts = 1000
  // stream_tumbling: the reference's in-order job (3 s windows, 0 s watermark)
  val TumbleSec = 3L
  val Threshold = 10000.0
  // stream_sliding_ooo: 60 s / 3 s panes, 5 s watermark, skew under half of it
  val SizeSec = 60L
  val SlideSec = 3L
  val MaxSkewMs = 2000L
  /** Fixed input rates, well below the capacity measured on 4 cores
    * (the probe figures are in WORKLOADS.md).
    */
  val Rates = Map("stream_tumbling" -> 200000, "stream_sliding_ooo" -> 100000)
  val SetupCycles = 3
  /** Micro-batch trigger. Without one (the sink's default) batches run
    * back to back, each as long as its fixed costs (~0.7-1 s, most of it
    * the state commit), so their number and phase drift with host speed.
    * A fixed 2 s trigger, aligned to the epoch like the windows, makes
    * every run see the same batch schedule and window closes.
    */
  val TriggerMs = 2000L
  /** The measured interval starts on the first trigger this long after
    * the query does, 50 ms early, so it holds whole micro-batches.
    */
  val WarmMs = 8000L
  /** Latency samples are the windows ending in the measured interval
    * shifted back by about one alert latency, so each close is written
    * close to the interval.
    */
  val NominalLatencyMs = Map("stream_tumbling" -> 4000L, "stream_sliding_ooo" -> 8000L)

  def salt(seed: Long): Long = 0xBADCAFEL ^ (seed * 0x9E3779B97F4A7C15L)

  def windowMs(workload: String): Long =
    if (workload == "stream_tumbling") TumbleSec * 1000 else SizeSec * 1000

  def pipeline(spark: SparkSession, o: Opts, rate: Int): DataFrame = {
    val tx = TransactionGen.stream(spark, rowsPerSecond = rate, accounts = Accounts)
    o.workload match {
      case "stream_tumbling" =>
        StreamingFraud.tumblingAlerts(tx, TumbleSec, Threshold, "0 seconds")
      case "stream_sliding_ooo" =>
        Windows.streamingPaneSlidingAgg(
          TransactionGen.perturb(tx, MaxSkewMs, salt(o.seed)),
          "accountId", "ts", "amount", SizeSec, SlideSec, "5 seconds")
      case w => sys.error(s"unknown stream workload $w")
    }
  }

  final case class Running(q: StreamingQuery, dir: File, calledMs: Long) {
    def out: String = new File(dir, "alerts").getAbsolutePath
    def ckpt: String = new File(dir, "ckpt").getAbsolutePath
  }

  /** `GraftStreams.parquetAlertSink` with a fixed trigger: the same
    * per-batch write, `GraftStreams.writeAlertBatch`.
    */
  def start(spark: SparkSession, o: Opts, rate: Int, dir: File): Running = {
    Main.rmTree(dir)
    dir.mkdirs()
    val calledMs = System.currentTimeMillis()
    val out = new File(dir, "alerts").getAbsolutePath
    val q = pipeline(spark, o, rate).writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        GraftStreams.writeAlertBatch(batch, id, out)
      }
      .trigger(Trigger.ProcessingTime(TriggerMs))
      .option("checkpointLocation", new File(dir, "ckpt").getAbsolutePath)
      .start()
    Running(q, dir, calledMs)
  }

  private def failIfDead(q: StreamingQuery): Unit =
    q.exception.foreach(e => throw e)

  /** The rate source's creation time: rows of second k carry timestamps
    * from creation + k s and are released at creation + (k + 1) s. The
    * source keeps it in its checkpoint, as the last line of batch 0.
    */
  def creationMs(r: Running, timeoutMs: Long = 30000): Long = {
    val f = new File(r.ckpt, "sources/0/0")
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!(f.exists() && f.length() > 3)) {
      failIfDead(r.q)
      if (System.currentTimeMillis() > deadline)
        sys.error("rate source did not record its start time")
      Thread.sleep(5)
    }
    Thread.sleep(5)
    scala.io.Source.fromFile(f).getLines().toSeq.last.trim.toLong
  }

  private def iso(s: String): Long = Instant.parse(s).toEpochMilli

  private def offset(s: String): Long =
    if (s == null || s == "null") 0L else s.trim.toLong

  def batch(p: StreamingQueryProgress): Batch = {
    val start = iso(p.timestamp)
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val ops = p.stateOperators.toSeq
    val custom = ops.flatMap(_.customMetrics.asScala.toSeq)
      .groupMapReduce(_._1)(_._2.doubleValue)(_ + _)
    val state = custom ++ Map(
      "commitTimeMs" -> ops.map(_.commitTimeMs).sum.toDouble,
      "numRowsTotal" -> ops.map(_.numRowsTotal).sum.toDouble,
      "numRowsUpdated" -> ops.map(_.numRowsUpdated).sum.toDouble,
      "memoryUsedBytes" -> ops.map(_.memoryUsedBytes).sum.toDouble,
      "numRowsDroppedByWatermark" -> ops.map(_.numRowsDroppedByWatermark).sum.toDouble)
    val src = p.sources.headOption
    Batch(p.batchId, start, start + d.getOrElse("triggerExecution", 0L),
      p.numInputRows, src.map(s => offset(s.startOffset)).getOrElse(0L),
      src.map(s => offset(s.endOffset)).getOrElse(0L),
      Option(p.eventTime.get("watermark")).map(iso).getOrElse(0L), d, state)
  }

  def batches(q: StreamingQuery): Seq[Batch] =
    q.recentProgress.toSeq.map(batch).groupBy(_.id).values.map(_.last)
      .toSeq.sortBy(_.id)

  def awaitBatch(q: StreamingQuery, timeoutMs: Long)(p: Batch => Boolean): Batch = {
    val deadline = System.currentTimeMillis() + timeoutMs
    var hit: Option[Batch] = None
    while (hit.isEmpty) {
      failIfDead(q)
      if (System.currentTimeMillis() > deadline)
        sys.error(s"stream made no qualifying batch within $timeoutMs ms")
      hit = batches(q).find(p)
      if (hit.isEmpty) Thread.sleep(10)
    }
    hit.get
  }

  def sleepUntil(ms: Long): Unit = {
    val d = ms - System.currentTimeMillis()
    if (d > 0) Thread.sleep(d)
  }

  def run(o: Opts): Map[String, Any] = {
    val rate = o.rate.getOrElse(Rates(o.workload))
    val spans = new Spans
    val setup = scala.collection.mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 0 until SetupCycles) {
      // a set-up: session, query start, first (empty) micro-batch done
      val t0 = System.currentTimeMillis()
      spark = Main.session(o)
      val r = start(spark, o, rate, new File(o.work, s"setup$i"))
      awaitBatch(r.q, 60000)(_ => true)
      val t1 = System.currentTimeMillis()
      setup += (t1 - t0) / 1e3
      spans.add("setup", t0, t1, attrs = Map("cycle" -> i))
      r.q.stop()
      if (i < SetupCycles - 1) spark.stop()
      Main.note(s"set-up $i: ${t1 - t0} ms")
    }
    val trace = if (o.trace) {
      val t = new Trace
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None

    val r = start(spark, o, rate, new File(o.work, "measured"))
    val c = creationMs(r)
    // a fresh query's first micro-batch: planning, state-store and sink set-up
    val first = awaitBatch(r.q, 60000)(_ => true)
    val tStart = (Math.floorDiv(r.calledMs + WarmMs, TriggerMs) + 1) * TriggerMs - 50
    val tEnd = tStart + o.seconds * 1000L
    val lag = NominalLatencyMs(o.workload)
    val lastEnd = Math.floorDiv(tEnd - lag, SlideSec * 1000) * SlideSec * 1000
    sleepUntil(tStart)
    val cpu0 = Main.cpuSeconds()
    sleepUntil(tEnd)
    val cpu1 = Main.cpuSeconds()
    // the last sampled window has been written once a batch has run on a
    // watermark past its end, and one more batch has finished after it
    val closing = awaitBatch(r.q, 60000)(_.watermarkMs >= lastEnd)
    awaitBatch(r.q, 60000)(_.id > closing.id)
    r.q.stop()
    val all = batches(r.q)
    spans.add("stream.query", r.calledMs, System.currentTimeMillis())
    all.foreach(b => spans.add("microbatch", b.startMs, b.endMs,
      attrs = Map("batch" -> b.id, "durations" -> b.durations)))

    Main.note("stopped; verifying")
    val (check, alerts) = spans.timed("verify")(verify(spark, o, rate, c, all, r))._1
    Main.note(s"verified: $check")
    trace.foreach(t => Trace.drain(spark.sparkContext))
    Json.obj(
      "kind" -> "stream", "workload" -> o.workload, "rate" -> rate,
      "cores" -> o.cores, "creation_ms" -> c, "setup_s" -> setup,
      "cold_s" -> first.durations.getOrElse("triggerExecution", 0L) / 1e3,
      "interval" -> Seq(tStart, tEnd), "latency_windows" -> Seq(tStart - lag, tEnd - lag),
      "cpu_s" -> (cpu1 - cpu0), "events" -> rate.toLong * o.seconds,
      "batches" -> all.map(_.record), "alerts" -> alerts, "check" -> check,
      "rss_peak_mb" -> Main.rssPeakMb(),
      "trace" -> trace.map(_.window(tStart, tEnd)),
      "spans" -> (if (o.trace) spans.all else Nil))
  }

  /** Recomputes every closed window from the input the source released,
    * regenerated from its per-row schedule, and compares it with the
    * alerts the completed batches wrote. Returns the check counts and
    * the alerts as (batch id, window end ms, rows) groups.
    */
  def verify(spark: SparkSession, o: Opts, rate: Int, c: Long,
             all: Seq[Batch], r: Running): (Map[String, Any], Seq[Seq[Long]]) = {
    val data = all.filter(b => b.endOff > b.startOff)
    val done = all.map(_.id).toSet
    val got = spark.read.parquet(r.out)
      .filter(col("batch_id").isin(done.toSeq: _*))
    val win = windowMs(o.workload)
    val emitted = o.workload match {
      case "stream_tumbling" =>
        got.select(col("accountId"), col("windowStartMs").as("ws"),
          round(col("total") * 100).cast("long").as("cents"), col("cnt"),
          col("batch_id"))
      case _ =>
        got.select(col("accountId"), (col("ws") * 1000).as("ws"),
          round(col("sum_val") * 100).cast("long").as("cents"), col("cnt"),
          col("mean_cents"), col("batch_id"))
    }
    val alerts = emitted.groupBy(col("batch_id").cast("long"), (col("ws") + win).as("end"))
      .count().collect().toSeq
      .map(x => Seq(x.getLong(0), x.getLong(1), x.getLong(2)))
    val maxEnd = if (alerts.isEmpty) Long.MinValue else alerts.map(_(1)).max
    val expected = expectedWindows(spark, o, rate, c, data)
      .filter(col("ws") + win <= maxEnd)
    val keyed = emitted.groupBy("accountId", "ws")
      .agg(count(lit(1)).as("n"), first("cents").as("cents"), first("cnt").as("cnt"),
        first(if (o.workload == "stream_tumbling") lit(0L) else col("mean_cents")).as("mean"))
    val sameMean = if (o.workload == "stream_tumbling") lit(true)
      else col("mean") === col("e_mean")
    val flags = expected.join(keyed, Seq("accountId", "ws"), "full_outer").select(
      col("n").isNull.as("missing"), col("e_cents").isNull.as("unexpected"),
      (col("n") > 1).as("duplicate"),
      (col("n").isNotNull && col("e_cents").isNotNull &&
        !(col("cents") === col("e_cents") && col("cnt") === col("e_cnt") && sameMean))
        .as("wrong"))
    def n(c: String) = sum(col(c).cast("long"))
    val counts = flags.agg(count(lit(1)), n("missing"), n("unexpected"), n("wrong"),
      n("duplicate")).head()
    val Seq(attempted, missing, unexpected, wrong, dups) =
      (0 until 5).map(i => if (counts.isNullAt(i)) 0L else counts.getLong(i))
    (Json.obj("attempted" -> attempted, "failed" -> (missing + unexpected + wrong + dups),
      "missing" -> missing, "unexpected" -> unexpected, "wrong" -> wrong,
      "duplicates" -> dups, "input_rows" -> data.map(_.rows).sum,
      "max_window_end_ms" -> maxEnd), alerts)
  }

  /** The windows a batch job computes over the same rows. Rows are
    * rebuilt from the rate source's schedule: in a batch covering
    * seconds [s, e), value v carries creation + s·1000 +
    * round((v − s·rate)·(e − s)·1000 / ((e − s)·rate)) ms, rounded half
    * up as the source's Math.round does.
    */
  def expectedWindows(spark: SparkSession, o: Opts, rate: Int, c: Long,
                      data: Seq[Batch]): DataFrame = {
    val r = rate.toLong
    // the batch covering each second, as the source planned it
    val seconds = spark.createDataFrame(data.flatMap(b =>
      (b.startOff until b.endOff).map(sec => (sec, b.startOff, b.endOff))))
      .toDF("sec", "s", "e")
    val msPerValue = ((col("e") - col("s")) * 1000).cast("double") /
      ((col("e") - col("s")) * r).cast("double")
    val raw = spark.range(0, data.map(_.endOff).max * r).toDF("value")
      .join(broadcast(seconds), floor(col("value") / r) === col("sec"))
      .select(col("value"), (lit(c) + col("s") * 1000 +
        round((col("value") - col("s") * r).cast("double") * msPerValue).cast("long"))
        .as("ms"))
      .select(
        pmod(xxhash64(col("value")), lit(Accounts.toLong)).as("accountId"),
        (pmod(xxhash64(col("value"), lit(1)), lit(100000L)).cast("double") / 100.0)
          .as("amount"),
        timestamp_millis(col("ms")).as("ts"))
    val tx = if (o.workload == "stream_tumbling") raw
      else TransactionGen.perturb(raw, MaxSkewMs, salt(o.seed))
    val rows = tx.select(col("accountId"), unix_millis(col("ts")).as("ms"),
      round(col("amount") * 100).cast("long").as("cents"))
    val slide = SlideSec * 1000
    val panes = rows.groupBy(col("accountId"), (col("ms") - pmod(col("ms"), lit(slide))).as("p"))
      .agg(sum(col("cents")).as("cents"), count(lit(1)).as("cnt"))
    o.workload match {
      case "stream_tumbling" =>
        panes.filter(col("cents") > (Threshold * 100).toLong)
          .select(col("accountId"), col("p").as("ws"), col("cents").as("e_cents"),
            col("cnt").as("e_cnt"))
      case _ =>
        val span = SizeSec * 1000 - slide
        panes.withColumn("ws", explode(sequence(col("p") - span, col("p"), lit(slide))))
          .groupBy(col("accountId"), col("ws"))
          .agg(sum(col("cents")).as("e_cents"), sum(col("cnt")).as("e_cnt"))
          .withColumn("e_mean", expr("e_cents div e_cnt"))
    }
  }

  /** Capacity probe: the workload at `--rate` for `--seconds`, reporting
    * data-batch time, state commit time and the busy share of the wall.
    */
  def probe(o: Opts): Map[String, Any] = {
    val rate = o.rate.getOrElse(Rates(o.workload))
    val spark = Main.session(o)
    val r = start(spark, o, rate, new File(o.work, "probe"))
    val c = creationMs(r)
    Thread.sleep(8000)
    val t0 = System.currentTimeMillis()
    Thread.sleep(o.seconds * 1000L)
    val t1 = System.currentTimeMillis()
    failIfDead(r.q)
    val all = batches(r.q)
    val bs = all.filter(b => b.startMs >= t0 && b.endMs <= t1)
    r.q.stop()
    val data = bs.filter(_.rows > 0)
    Json.obj("workload" -> o.workload, "rate" -> rate, "cores" -> o.cores,
      "batches" -> bs.size,
      "data_batch_ms_p50" -> Main.median(data.map(_.durations("triggerExecution").toDouble)),
      "commit_ms_p50" -> Main.median(data.map(_.state("commitTimeMs"))),
      "file_sync_ms_p50" -> Main.median(data.map(
        _.state.getOrElse("rocksdbCommitFileSyncLatencyMs", Double.NaN))),
      "busy_ratio" -> bs.map(_.durations("triggerExecution")).sum.toDouble / (t1 - t0),
      "lag_ms_at_end" -> (t1 - (c + all.last.endOff * 1000)))
  }
}
