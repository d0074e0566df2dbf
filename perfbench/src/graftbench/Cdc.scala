package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Checksum, Materializer, Pipeline, Stages, TableFilters}
import graft.sources.Wal2Json
import graft.sources.v2.{MemoryTailFeed, TailFeed}
import graft.streaming.ChangesetStream

/** The two CDC workloads: capture → transform → apply → verify. */
object Cdc {

  // cdc_hot: decode and payload stages over a small, hot state
  val HotKeys = 20000
  val HotChanges = 3000

  // cdc_wide: every epoch reads, joins and rewrites the whole state
  val WideKeySpace = 400000
  val WideBoot = 200000
  val WideChanges = 3000
  val WideLag = 5L * WideChanges

  /** Untimed epochs before the timed ones, and after each query or
    * session restart in a traced run. */
  val Warm = 2

  val SampleKeys = 1000
  val Chunks = 1024

  val hotRowSchema: StructType =
    StructType(HotStages.StateColumns.map(StructField(_, StringType)))
  val wideRowSchema: StructType = StructType.fromDDL(
    "pk bigint, name string, qty bigint, tag string")
  private val msgSchema = StructType.fromDDL("msg_id bigint, msg string")
  /** Staged messages are `id<TAB>json` lines; JSON never holds a tab or a
    * raw newline, and quoting is off so its quotes pass through. */
  private val tsv = Map("sep" -> "\t", "quote" -> "", "escape" -> "")
  private val TailProvider = "graft.sources.v2.CdcTailProvider"

  /** cdc_hot's transform: table filters, then fused payload stages. */
  val hotStages: Pipeline.Stage = Pipeline(
    TableFilters.whitelist(Seq("public.*")),
    TableFilters.ignore(Seq("public.audit", "sessions")),
    Stages.openPayload,
    Stages.removeColumn("email"),
    Stages.mapValue("status", v => upper(v)),
    Stages.dropWhereValue("is_test")(v => v === "true"),
    Stages.closePayload)

  private def sampleKeys(seed: Long, n: Int, keyOf: Int => String): Set[String] = {
    val r = new java.util.SplittableRandom(seed ^ 0x5eed5L)
    Iterator.continually(keyOf(r.nextInt(n))).distinct.take(SampleKeys).toSet
  }

  private def checksum(df: DataFrame, schema: StructType): String =
    Checksum.orderedChecksumChunked(df, col("pk"),
      Checksum.rowHash(schema.fieldNames.map(col).toSeq: _*), Chunks)
      .head().getString(0)

  /** The correctness gate shared by both CDC workloads: the streamed state
    * against a batch materialization of the whole changelog (chunked
    * ordered checksum), and against the serial model on sampled keys. */
  private def verify(ctx: Ctx, statePath: String, changelog: DataFrame,
                     schema: StructType, model: SerialModel,
                     sample: Set[String]): (Seq[(String, Boolean)], Map[String, Double]) = {
    val streamed = ChangesetStream.readState(ctx.spark, statePath)
    val (got, checksumMs) = ctx.timeMs(checksum(streamed, schema))
    val (want, referenceMs) = ctx.timeMs(
      checksum(Materializer.materialize(changelog, "pk", schema), schema))
    val rows = streamed.filter(col("pk").cast("string").isin(sample.toSeq: _*))
      .collect().map(r => r.get(0).toString -> r.toSeq.map(v => Option(v).map(_.toString).orNull))
      .toMap
    val modelRows = model.state.map { case (k, v) => k -> v.toSeq }.toMap
    val mismatched = sample.count(k => rows.get(k) != modelRows.get(k))
    ctx.log("verified")
    (Seq("state_checksum_equals_batch_materialize" -> (got == want),
      s"serial_model_agrees_on_${sample.size}_keys" -> (mismatched == 0)),
      Map("operators.checksum_ms" -> checksumMs,
        "operators.reference_ms" -> referenceMs,
        "verify_s" -> (checksumMs + referenceMs) / 1000.0,
        "sample_mismatches" -> mismatched.toDouble))
  }

  /** End-of-run shape of a versioned state table. */
  private def stateLayers(spark: SparkSession, statePath: String): Map[String, Double] = {
    val s = spark.read.parquet(statePath)
    val n = s.count()
    val tomb = s.filter(col(Materializer.TombstoneCol)).count()
    Map("streaming.state_rows" -> n.toDouble,
      "operators.merge_state_rows" -> n.toDouble,
      "streaming.tombstone_ratio" -> tomb.toDouble / math.max(1L, n),
      "streaming.state_files" -> Main.du(statePath)._2.toDouble)
  }

  /** Spans around isolated calls into the operator layer on one epoch's
    * changes against the current state: the versioned merge forced to a
    * noop sink, then the write of its result. */
  private def mergeSpans(ctx: Ctx, state: DataFrame, batch: DataFrame,
                         schema: StructType): Unit = {
    ctx.spans("operators.merge") {
      ctx.noop(Materializer.mergeVersioned(state, batch, "pk", schema))
    }
    val merged = Materializer.mergeVersioned(state, batch, "pk", schema)
      .localCheckpoint()
    ctx.spans("streaming.state_write") {
      merged.write.mode("overwrite").parquet(ctx.dir("span-state-write"))
    }
  }

  /** The run's result from the drained segments and the gate. */
  private def finish(ctx: Ctx, d: Drain,
                     drained: (Seq[(Segment, Seq[Epoch])], Option[Throwable], Int),
                     setupS: Double, statePath: String,
                     gate: (Seq[(String, Boolean)], Map[String, Double]),
                     layers: Map[String, Double], info: Map[String, Any]): Outcome = {
    val (segs, err, released) = drained
    val (checks, vf) = gate
    Main.outcome(ctx, d, segs, err, released, setupS,
      fixed = Map("verify_s" -> vf("verify_s"), "state_mb" -> Main.du(statePath)._1),
      layers = layers ++ vf.filter(_._1.startsWith("operators.")),
      checks, info + ("sample_mismatches" -> vf("sample_mismatches")))
  }

  def hot(ctx: Ctx): Outcome = {
    val segs = ctx.segments(Warm, ctx.conf.seconds, Warm)
    val total = segs.map(s => s.warm + s.timed).sum
    val sample = sampleKeys(ctx.conf.seed, HotKeys, k => f"k$k%06d")
    def name(e: Int) = f"epoch-$e%05d.tsv"

    // set-up: generate every epoch's wal2json messages and stage them as
    // one tab-separated file (message id, message) per epoch, mtimes
    // strictly increasing (the file source orders by mtime); a segment
    // releases its files into the source directory
    val pending = ctx.dir("hot-pending")
    val ((model, digest), setupS) = ctx.repeatedSetup(pending) {
      val dir = new File(pending)
      dir.mkdirs()
      val gen = new HotGen(ctx.conf.seed, HotKeys)
      val model = new SerialModel(sample)
      val base = System.currentTimeMillis() - total * 1000L
      (0 until total).foreach { e =>
        val (msgs, evs) = gen.epoch(HotChanges)
        evs.foreach(ev => HotStages(ev).foreach(model(_)))
        Main.writeLines(new File(dir, name(e)), base + e * 1000L,
          msgs.iterator.map { case (id, m) => s"$id\t$m" })
      }
      (model, gen.digest.hex)
    }

    val in = ctx.dir("hot-in")
    val statePath = ctx.dir("hot-state")
    val drain = new Drain {
      val perEpoch: Long = HotChanges
      def release(from: Int, until: Int): Unit =
        Main.releaseFiles(pending, in, name, from, until)
      def start(spark: SparkSession) = ChangesetStream.materializeTo(
        hotStages(Wal2Json.decode(spark.readStream.schema(msgSchema).options(tsv)
          .option("maxFilesPerTrigger", 1).csv(in), "msg_id", "msg")),
        statePath, ctx.dir("hot-ckpt"), "pk", hotRowSchema)
    }
    var layers = Map.empty[String, Double]
    val drained = ctx.drain(drain, segs) {
      // the traced session: decode, stages and merge on the last epochs
      val spark = ctx.spark
      val state = spark.read.parquet(statePath).localCheckpoint()
      val keep = new File(in).list().sorted.takeRight(3).toSeq.map { f =>
        val raw = spark.read.schema(msgSchema).options(tsv).csv(new File(in, f).getPath)
        ctx.spans("sources.decode") { ctx.noop(Wal2Json.decode(raw, "msg_id", "msg")) }
        val dec = Wal2Json.decode(raw, "msg_id", "msg").localCheckpoint()
        ctx.spans("operators.stages") { ctx.noop(hotStages(dec)) }
        val staged = hotStages(dec).localCheckpoint()
        mergeSpans(ctx, state, staged, hotRowSchema)
        staged.count().toDouble / dec.count()
      }
      layers = Map("sources.decode_ms" -> ctx.medianSpan("sources.decode"),
        "operators.stages_ms" -> ctx.medianSpan("operators.stages"),
        "operators.keep_ratio" -> Stats.median(keep),
        "operators.merge_ms" -> ctx.medianSpan("operators.merge"),
        "streaming.state_write_ms" -> ctx.medianSpan("streaming.state_write")) ++
        stateLayers(spark, statePath)
    }
    val gate = verify(ctx, statePath, hotStages(Wal2Json.decode(
      ctx.spark.read.schema(msgSchema).options(tsv).csv(in), "msg_id", "msg")),
      hotRowSchema, model, sample)
    finish(ctx, drain, drained, setupS, statePath, gate, layers,
      Map("input_md5" -> digest, "epoch_changes" -> HotChanges, "hot_keys" -> HotKeys))
  }

  private def change(e: Ev, json: Array[String] => String): TailFeed.Change =
    TailFeed.Change(e.id, null, e.action, e.schema, e.table, 0L,
      if (e.row == null) null else json(e.row),
      if (e.action == "INSERT") null else s"""{"pk":${e.pk}}""")

  def wide(ctx: Ctx): Outcome = {
    val segs = ctx.segments(Warm, ctx.conf.seconds, Warm)
    val total = segs.map(s => s.warm + s.timed).sum
    val sample = sampleKeys(ctx.conf.seed, WideKeySpace, _.toString)
    val feedName = "graftbench-wide"

    /** The bootstrap snapshot (id, pk, name, qty, tag), computed in Spark
      * by the generator's formulas ([[WideGen.bootRow]]). */
    def bootRows(spark: SparkSession, gen: WideGen) = {
      val i = col("id")
      spark.range(1, WideBoot + 1L).select(i,
        pmod(i * WideGen.Stride + gen.salt, lit(WideKeySpace.toLong)).as("pk"),
        concat(lit("item"), ((i * 7919L + gen.salt) % 1000000L).cast("string")).as("name"),
        ((i * 104729L + gen.salt) % 100000L).as("qty"),
        concat(lit("t"), ((i * 31L + gen.salt) % 64L).cast("string")).as("tag"))
    }

    // set-up: write the bootstrap snapshot as the versioned state the sink
    // reads (WideBoot live rows, version = id) and generate every epoch's
    // changes; a segment appends its epochs to the in-memory feed
    val statePath = ctx.dir("wide-state")
    val ((gen, model, pending, digest), setupS) = ctx.repeatedSetup(statePath) {
      val gen = new WideGen(ctx.conf.seed, WideKeySpace, WideBoot)
      val model = new SerialModel(sample)
      gen.bootEvents(sample).foreach(model(_))
      bootRows(ctx.spark, gen).select((wideRowSchema.fieldNames.map(col) :+
        col("id").as(Materializer.VersionCol) :+
        lit(false).as(Materializer.TombstoneCol)).toSeq: _*)
        .write.parquet(statePath)
      val pending = Array.fill(total)(gen.epoch(WideChanges).map { e =>
        model(e); change(e, gen.json)
      })
      (gen, model, pending, gen.digest.hex)
    }

    val feed = new MemoryTailFeed
    TailFeed.register(feedName, feed)
    def stream(spark: SparkSession) = spark.readStream.format(TailProvider)
      .option("feed", feedName).option("startFromId", WideBoot.toString)
      .option("maxIdsPerTrigger", WideChanges.toString).load()
    val drain = new Drain {
      val perEpoch: Long = WideChanges
      def release(from: Int, until: Int): Unit =
        (from until until).foreach(e => pending(e).foreach(feed.append))
      def start(spark: SparkSession) = ChangesetStream.materializeTo(stream(spark),
        statePath, ctx.dir("wide-ckpt"), "pk", wideRowSchema,
        compactionLag = Some(WideLag))
      // the source's own high-water mark against the committed offset
      override def lag(e: Epoch, released: Int): Double =
        Option(e.latestOffset).fold(0.0)(_.toDouble) - Option(e.endOffset).fold(0.0)(_.toDouble)
    }
    var layers = Map.empty[String, Double]
    val drained = ctx.drain(drain, segs) {
      // the traced session: merge and state write of the last epochs'
      // changes against the current state
      val spark = ctx.spark
      val state = spark.read.parquet(statePath).localCheckpoint()
      val hi = feed.currentMaxId
      (1 to 3).foreach { i =>
        val batch = spark.read.format(TailProvider).option("feed", feedName)
          .option("startFromId", (hi - i * WideChanges).toString)
          .option("endId", (hi - (i - 1) * WideChanges).toString).load()
          .localCheckpoint()
        mergeSpans(ctx, state, batch, wideRowSchema)
      }
      layers = Map("operators.merge_ms" -> ctx.medianSpan("operators.merge"),
        "operators.keep_ratio" -> 1.0,
        "streaming.state_write_ms" -> ctx.medianSpan("streaming.state_write")) ++
        stateLayers(spark, statePath)
    }
    val spark = ctx.spark
    val changelog = bootRows(spark, gen).select(col("id"),
      lit(null).cast("timestamp").as("ts"), lit("INSERT").as("action"),
      lit(gen.Schema).as("schema_name"), lit(gen.Table).as("table_name"),
      lit(0L).as("relid"),
      to_json(struct(wideRowSchema.fieldNames.map(col).toSeq: _*)).as("new_values"),
      lit(null).cast("string").as("old_values"))
      .unionByName(spark.read.format(TailProvider).option("feed", feedName).load())
    val gate = verify(ctx, statePath, changelog, wideRowSchema, model, sample)
    finish(ctx, drain, drained, setupS, statePath, gate, layers,
      Map("input_md5" -> digest, "epoch_changes" -> WideChanges,
        "key_space" -> WideKeySpace, "bootstrap_rows" -> WideBoot))
  }
}
