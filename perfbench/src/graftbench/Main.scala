package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

/** Command line of one benchmark JVM (see perfbench/run.py). */
final case class Conf(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, cores: Int, work: String, out: String)

object Conf {
  def parse(args: Array[String]): Conf = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Conf(need("workload"), need("seed").toLong, need("seconds").toInt,
      m.get("trace").contains("1"), need("cores").toInt, need("work"),
      need("out"))
  }
}

/** One micro-batch as the progress reports it. */
final case class Epoch(batchId: Long, start: Long, durMs: Long, rowsIn: Long,
                       durations: Map[String, Long], endOffset: String,
                       latestOffset: String) {
  def end: Long = start + durMs
  def d(k: String): Long = durations.getOrElse(k, 0L)
}

object Epoch {
  def of(p: StreamingQueryProgress): Epoch = {
    import scala.jdk.CollectionConverters._
    val src = p.sources.headOption
    Epoch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli,
      p.batchDuration, p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      src.map(_.endOffset).orNull, src.map(_.latestOffset).orNull)
  }
}

/**
 * A stretch of back-to-back epochs on one session: `warm` untimed, then
 * `timed`. --trace 0 runs one segment. --trace 1 runs four over the same
 * stream and state: untraced, traced (listeners attached, then the layer
 * spans), untraced again (the traced segment is compared with the mean of
 * the two around it), and untraced on one core (the session restarts as
 * local[1]).
 */
final case class Segment(name: String, cores: Int, traced: Boolean,
                         warm: Int, timed: Int)

/** What a workload hands the segment driver. */
trait Drain {
  /** Input rows (changes or docs) per epoch. */
  def perEpoch: Long
  /** Make the inputs of epochs [from, until) visible to the source. */
  def release(from: Int, until: Int): Unit
  /** Start the query, or restart it from its checkpoint. */
  def start(spark: SparkSession): StreamingQuery
  /** Backlog when an epoch ends: released rows not yet committed. */
  def lag(e: Epoch, released: Int): Double =
    ((released - 1 - e.batchId) * perEpoch).toDouble
}

/** What one workload run hands back to [[Main]]. */
final case class Outcome(endToEnd: Map[String, Double],
                         perLayer: Map[String, Double],
                         info: Map[String, Any], attempted: Long,
                         failed: Long, checks: Seq[(String, Boolean)])

/** Shared state of one run: the session (restarted when a segment needs
  * other cores), listeners, spans and the segment driver. */
final class Ctx(val conf: Conf) {
  private val born = System.nanoTime()
  private var current: SparkSession = Main.session(conf, conf.cores)
  val sessionS: Double = (System.nanoTime() - born) / 1e9
  def spark: SparkSession = current

  val trace = new SparkTrace
  val streamTrace = new StreamTrace
  val spans = new Spans(() => current.sparkContext)

  def dir(name: String): String = new File(conf.work, name).getAbsolutePath

  /** Phase marks on stderr, in seconds since the JVM's session started. */
  def log(msg: String): Unit =
    System.err.println(f"[graftbench ${(System.nanoTime() - born) / 1e9}%7.2fs] $msg")

  def useCores(cores: Int): Unit =
    if (current.sparkContext.defaultParallelism != cores) {
      current.stop()
      current = Main.session(conf, cores)
      log(s"session restarted as local[$cores]")
    }

  /** The run's segments: `warm` untimed then `timed` epochs, a fixed
    * count per workload. A traced run gives each of its segments
    * [[Main.TraceShare]] of `timed`, and `rewarm` untimed epochs after
    * each query or session restart. */
  def segments(warm: Int, timed: Int, rewarm: Int): Seq[Segment] =
    if (!conf.trace) Seq(Segment("timed", conf.cores, traced = false, warm, timed))
    else {
      val t = math.max(1, math.round(timed * Main.TraceShare).toInt)
      Seq(Segment("untraced", conf.cores, traced = false, warm, t),
        Segment("traced", conf.cores, traced = true, rewarm, t),
        Segment("after", conf.cores, traced = false, rewarm, t),
        Segment("local1", 1, traced = false, rewarm, t))
    }

  /** Run the set-up [[Main.SetupRepeats]] times, clearing `dirs` before
    * each, and return the last result with the median wall seconds. */
  def repeatedSetup[T](dirs: String*)(f: => T): (T, Double) = {
    val runs = (0 until Main.SetupRepeats).map { i =>
      dirs.foreach(d => Main.deleteTree(new File(d)))
      val t0 = System.nanoTime()
      val r = f
      val s = (System.nanoTime() - t0) / 1e9
      log(f"set-up $i done in $s%.2fs")
      (r, s)
    }
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  /**
   * Drain the segments in order over one checkpoint and state. Each
   * segment releases its inputs, then (re)starts the query with
   * AvailableNow, so its epochs run back to back. `traced` runs inside
   * the traced segment's session after its epochs, listeners attached.
   * Returns the epochs of every segment (warm-up included), the error
   * that stopped the run if any, and how many epochs were released.
   */
  def drain(d: Drain, segs: Seq[Segment])(traced: => Unit)
      : (Seq[(Segment, Seq[Epoch])], Option[Throwable], Int) = {
    var released = 0
    var err: Option[Throwable] = None
    val out = segs.map { seg =>
      if (err.isDefined) seg -> Seq.empty[Epoch] else {
        useCores(seg.cores)
        if (seg.traced) {
          spark.sparkContext.addSparkListener(trace)
          spark.streams.addListener(streamTrace)
        }
        val first = released
        released += seg.warm + seg.timed
        d.release(first, released)
        val q = d.start(spark)
        log(s"segment ${seg.name}: epochs $first until $released")
        err = try { q.awaitTermination(); None } catch { case t: Throwable => Some(t) }
        val ps = if (seg.traced) streamTrace.of(q.id, q.recentProgress.length)
          else q.recentProgress.toSeq
        val epochs = ps.map(Epoch.of).sortBy(_.batchId)
        log(s"segment ${seg.name}: ${epochs.size} epochs${err.fold("")(e => s", error: $e")}")
        if (seg.traced) {
          if (err.isEmpty) traced
          spark.streams.removeListener(streamTrace)
          spark.sparkContext.removeSparkListener(trace)
        }
        seg -> epochs
      }
    }
    useCores(conf.cores)
    (out, err, released)
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def medianSpan(name: String): Double = {
    val d = spans.durations(name)
    if (d.isEmpty) 0.0 else Stats.median(d)
  }
}

object Main {
  /** Share of a workload's timed epochs in each --trace 1 segment: the
    * per-layer figures are medians, and four segments must fit one run. */
  val TraceShare = 0.3
  /** Set-ups per run; `setup_s` reports their median. */
  val SetupRepeats = 2

  def session(conf: Conf, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-${conf.workload}")
      // fixed across core counts so local[1] and local[n] run one plan
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.local.dir", new File(conf.work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(conf.work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Rows drained per second from the first timed trigger to the last
    * commit, the median epoch, and the tail: the highest order statistic
    * with 10 epochs beyond it, or the slowest epoch (p100) when there are
    * fewer than 11. */
  def epochMetrics(timed: Seq[Epoch], perEpoch: Long): (Map[String, Double], Map[String, Any]) = {
    require(timed.nonEmpty, "no timed epoch committed")
    val durs = timed.map(_.durMs.toDouble)
    val wallS = (timed.last.end - timed.head.start) / 1000.0
    val tail = Stats.tailWithBeyond(durs).getOrElse(Stats.Tail(durs.max, 100.0, durs.size))
    (Map("rows_per_s" -> timed.size * perEpoch / wallS,
      "epoch_p50_ms" -> Stats.median(durs), "epoch_tail_ms" -> tail.value),
      Map("timed_epochs" -> timed.size, "epoch_ms" -> durs, "timed_wall_s" -> wallS,
        "epoch_tail_percentile" -> tail.percentile,
        "epoch_tail_samples" -> tail.samples))
  }

  /** Medians over the traced epochs of the streaming and engine layers. */
  def epochLayers(ctx: Ctx, d: Drain, timed: Seq[Epoch], released: Int): Map[String, Double] = {
    def med(f: Epoch => Double) = Stats.median(timed.map(f))
    val per = timed.map { e =>
      ctx.spans.record("epoch", e.start, e.end,
        Map("owner" -> s"e${e.batchId}", "batch_id" -> e.batchId))
      ctx.trace.owned(s"e${e.batchId}", e.start, e.end, ctx.conf.cores)
    }
    def m(k: String) = Stats.median(per.map(_(k)))
    Map(
      "sources.offsets_ms" -> med(e => (e.d("latestOffset") + e.d("getBatch")).toDouble),
      "sources.rows_in" -> timed.map(_.rowsIn.toDouble).sum,
      "sources.lag_rows" -> med(e => d.lag(e, released)),
      "streaming.add_batch_ms" -> med(_.d("addBatch").toDouble),
      "streaming.plan_ms" -> med(_.d("queryPlanning").toDouble),
      "streaming.commit_ms" -> med(e => (e.d("walCommit") + e.d("commitOffsets")).toDouble),
      "spark.jobs_per_epoch" -> m("jobs"), "spark.stages_per_epoch" -> m("stages"),
      "spark.tasks_per_epoch" -> m("tasks"), "spark.idle_ms" -> m("idle_ms"),
      "spark.task_ms" -> m("task_ms"), "spark.cpu_ms" -> m("cpu_ms"),
      "spark.gc_ms" -> m("gc_ms"), "spark.busy_ratio" -> m("busy_ratio"),
      "spark.shuffle_write_mb" -> m("shuffle_write_mb"),
      "spark.shuffle_read_mb" -> m("shuffle_read_mb"),
      "spark.input_mb" -> m("input_mb"), "spark.output_mb" -> m("output_mb"),
      "spark.spill_mb" -> m("spill_mb"), "spark.task_skew" -> m("task_skew"))
  }

  /**
   * The run's outcome from its segments. End-to-end figures come from the
   * first segment. A traced run adds the layers of the traced segment,
   * tracing overhead (traced rows/s minus the mean of the untraced
   * segments before and after it) and one-core scaling (rows/s at
   * local[n] over local[1], from the two adjacent segments that run last,
   * on the warmest JIT).
   */
  def outcome(ctx: Ctx, d: Drain, segs: Seq[(Segment, Seq[Epoch])],
              err: Option[Throwable], released: Int, setupS: Double,
              fixed: Map[String, Double], layers: Map[String, Double],
              checks: Seq[(String, Boolean)], info: Map[String, Any]): Outcome = {
    val committed = segs.map(_._2.size).sum
    val timed = segs.map { case (s, es) => s -> es.drop(s.warm) }
    def rps(es: Seq[Epoch]) = if (es.isEmpty) 0.0 else epochMetrics(es, d.perEpoch)._1("rows_per_s")
    def rpsOf(name: String) = rps(timed.collectFirst { case (s, es) if s.name == name => es }.get)
    val complete = err.isEmpty && committed == released
    val (e2e, epochInfo) =
      if (timed.head._2.isEmpty) (Map.empty[String, Double], Map.empty[String, Any])
      else epochMetrics(timed.head._2, d.perEpoch)
    val perLayer = if (!ctx.conf.trace || !complete) Map.empty[String, Double] else {
      val bracket = (rpsOf("untraced") + rpsOf("after")) / 2
      val traced = timed.collectFirst { case (s, es) if s.traced => es }.get
      // epochs released when the traced segment ran: the backlog it saw
      val ss = segs.map(_._1)
      val tracedEnd = ss.take(ss.indexWhere(_.traced) + 1).map(s => s.warm + s.timed).sum
      epochLayers(ctx, d, traced, tracedEnd) ++ layers ++ Map(
        "spark.scaling_x" -> rpsOf("after") / rpsOf("local1"),
        "trace.overhead_rows_per_s" -> (rpsOf("traced") - bracket),
        "trace.overhead_pct" -> 100.0 * (bracket - rpsOf("traced")) / bracket)
    }
    Outcome(e2e ++ fixed + ("setup_s" -> (ctx.sessionS + setupS)), perLayer,
      info ++ epochInfo ++ Map(
        "segments" -> timed.map { case (s, es) => Map("name" -> s.name,
          "cores" -> s.cores, "warm" -> s.warm, "timed" -> es.size, "rows_per_s" -> rps(es)) },
        "error" -> err.map(_.toString)),
      attempted = released, failed = (released - committed) + err.size,
      checks = checks :+ ("all_epochs_committed" -> (committed == released)))
  }

  /** Bytes under a directory, in MB, and its data file count. */
  def du(path: String): (Double, Int) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new File(path)).filter(_.exists)
    (fs.map(_.length).sum / (1024.0 * 1024.0),
      fs.count(f => f.getName.endsWith(".parquet")))
  }

  /** Write a text file and set its mtime. */
  def writeLines(f: File, mtime: Long, lines: Iterator[String]): Unit = {
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(f), java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
    try lines.foreach { l => w.write(l); w.write('\n') } finally w.close()
    require(f.setLastModified(mtime), s"cannot set mtime of $f")
  }

  /** Move the staged files of epochs [from, until) from `pending` into the
    * source directory `in` (a rename keeps their mtimes). */
  def releaseFiles(pending: String, in: String, name: Int => String,
                   from: Int, until: Int): Unit = {
    new File(in).mkdirs()
    (from until until).foreach { e =>
      val src = new File(pending, name(e))
      require(src.renameTo(new File(in, name(e))), s"cannot release $src")
    }
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0) finally src.close()
  }

  def main(args: Array[String]): Unit = {
    val conf = Conf.parse(args)
    val ctx = new Ctx(conf)
    val outcome = conf.workload match {
      case "cdc_hot" => Cdc.hot(ctx)
      case "cdc_wide" => Cdc.wide(ctx)
      case "prep_stream" => Prep.run(ctx)
      case w => sys.error(s"unknown workload '$w'")
    }
    val failedChecks = outcome.checks.count(!_._2)
    if (conf.trace)
      ctx.spans.write(new File(conf.work, "trace.jsonl").getAbsolutePath, ctx.trace)
    val result = Map(
      "correct" -> (failedChecks == 0 && outcome.failed == 0),
      "attempted" -> (outcome.attempted + outcome.checks.size),
      "failed" -> (outcome.failed + failedChecks),
      "end_to_end" -> (outcome.endToEnd + ("rss_peak_mb" -> rssPeakMb())),
      "per_layer" -> outcome.perLayer,
      "info" -> (outcome.info ++ Map(
        "session_s" -> ctx.sessionS, "cores" -> conf.cores,
        "checks" -> outcome.checks.map { case (n, ok) => Map("name" -> n, "ok" -> ok) })))
    val w = new java.io.PrintWriter(conf.out, "UTF-8")
    try w.println(Json(result)) finally w.close()
    ctx.spark.stop()
  }
}
