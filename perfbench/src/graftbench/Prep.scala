package graftbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Bloom, Dedup, Sampling, Similarity, TextFns}
import graft.streaming.StreamOps

/** The training-data prep stream: Bloom blocklist → banded near-dup state
  * → embedding gate → LM gate → quality + split, per epoch. */
object Prep {
  val EpochDocs = 1000
  /** Timed epochs per run: a fixed count, not --seconds, because each
    * epoch costs ~8 s of fixed per-epoch work on 4 cores. */
  val Timed = 3
  /** Untimed epochs before the timed ones; none after a restart in a
    * traced run, whose JVM is already warm. */
  val Warm = 1
  val VerifyRepeats = 5
  val BlockTexts = 2000
  val CorpusVectors = 8000
  val LmCorpusDocs = 2000
  val CorpusFirstId = 1000000000L
  val MinJaccard = 0.8
  val MinQuality = 0.2
  val EmbedMinCos = 0.9
  val Fpp = 1e-3

  private val docSchema = StructType.fromDDL(
    "doc_id bigint, text string, embedding array<float>")

  def run(ctx: Ctx): Outcome = {
    val segs = ctx.segments(Warm, Timed, rewarm = 0)
    val total = segs.map(s => s.warm + s.timed).sum
    def name(e: Int) = f"epoch-$e%05d.json"

    // set-up: blocklist, LM corpus, IVF index over a labelled corpus, and
    // every epoch's docs staged as one JSON-lines file with increasing
    // mtimes; a segment releases its files into the source directory
    val pending = ctx.dir("prep-pending")
    val idx = ctx.dir("prep-idx")
    val ((block, lmCorpus, digest, kinds), setupS) = ctx.repeatedSetup(pending, idx) {
      val spark = ctx.spark
      import spark.implicits._
      val gen = new DocGen(ctx.conf.seed)
      val block = gen.texts(BlockTexts)
      val lm = gen.texts(LmCorpusDocs)
      val corpus = gen.corpus(CorpusVectors, CorpusFirstId)
      Similarity.buildIvfIndex(corpus.toSeq.toDF("doc_id", "embedding", "cell"),
        "doc_id", "embedding", "cell", idx, dims = gen.dims)
      val dir = new File(pending)
      dir.mkdirs()
      val base = System.currentTimeMillis() - total * 1000L
      val vecs = corpus.map(_._2)
      val kinds = scala.collection.mutable.HashMap.empty[String, Long]
      (0 until total).foreach { e =>
        val docs = gen.epoch(EpochDocs, 1L + e.toLong * EpochDocs, block, vecs)
        docs.foreach(d => kinds(d.kind) = kinds.getOrElse(d.kind, 0L) + 1)
        Main.writeLines(new File(dir, name(e)), base + e * 1000L, docs.iterator.map(d =>
          Json(Map("doc_id" -> d.id, "text" -> d.text, "embedding" -> d.emb))))
      }
      (block, lm, gen.digest.hex, kinds.toMap)
    }

    val in = ctx.dir("prep-in")
    val out = ctx.dir("prep-out")
    val state = ctx.dir("prep-state")
    var startMs = 0.0
    val drain = new Drain {
      val perEpoch: Long = EpochDocs
      def release(from: Int, until: Int): Unit =
        Main.releaseFiles(pending, in, name, from, until)
      def start(spark: SparkSession) = {
        import spark.implicits._
        // the Bloom and the LM model are built when the query starts
        val (q, ms) = ctx.timeMs(StreamOps.prepPipelineTo(
          spark.readStream.schema(docSchema).option("maxFilesPerTrigger", 1).json(in),
          block.toSeq.toDF("text"), out, state, ctx.dir("prep-ckpt"), "doc_id", "text",
          minJaccard = MinJaccard, minQuality = MinQuality, fpp = Fpp,
          modelCorpus = Some(lmCorpus.toSeq.toDF("text")),
          embedIndex = Some(idx), embedMinCos = EmbedMinCos))
        if (startMs == 0.0) startMs = ms
        q
      }
    }
    var layers = Map.empty[String, Double]
    val drained = ctx.drain(drain, segs) {
      // the traced session: each gate of the pipeline on the last epochs
      val spark = ctx.spark
      import spark.implicits._
      val blockDf = block.toSeq.toDF("text")
      val (m, k) = Bloom.sizeFor(BlockTexts.toLong, Fpp)
      val filterRow = Bloom.build(blockDf, col("text"), m, k).localCheckpoint()
      val model = TextFns.unigramModel(lmCorpus.toSeq.toDF("text"), "text").localCheckpoint()
      new File(in).list().sorted.takeRight(3).foreach { f =>
        val d = spark.read.schema(docSchema).json(new File(in, f).getPath).localCheckpoint()
        ctx.spans("functions.bloom") {
          ctx.noop(d.crossJoin(broadcast(filterRow))
            .filter(!Bloom.mightContain(col("__bloom"), col("text"), m, k)))
        }
        ctx.spans("functions.dedup") {
          ctx.noop(Dedup.nearDupClusters(d, "doc_id", "text", MinJaccard))
        }
        ctx.spans("functions.embed_gate") {
          ctx.noop(Similarity.ivfKnnJoinIndexed(spark, idx,
            d.select(col("doc_id").as("probe_id"), col("embedding").as("__pv")),
            "doc_id", "embedding", "cell", k = 1))
        }
        ctx.spans("functions.lm") {
          ctx.noop(TextFns.unigramLmScoreAgainst(model, d, "doc_id", "text"))
        }
        ctx.spans("functions.quality") {
          ctx.noop(d.withColumn("quality", TextFns.qualityScore(col("text")))
            .filter(col("quality") >= MinQuality)
            .withColumn("split", Sampling.splitLabel(col("doc_id"), 80, 10)))
        }
      }
      layers = Seq("bloom", "dedup", "embed_gate", "lm", "quality").map(n =>
        s"functions.${n}_ms" -> ctx.medianSpan(s"functions.$n")).toMap
    }

    // correctness gate over everything the stream wrote; one pass is well
    // under a second of jobs, so verify_s times VerifyRepeats passes
    val spark = ctx.spark
    import spark.implicits._
    val admitted = spark.read.parquet(s"$out/docs")
    val gates = (1 to VerifyRepeats).map(_ => ctx.timeMs {
      val n = admitted.count()
      val blocked = admitted.join(block.toSeq.toDF("text"), Seq("text"), "left_semi").count()
      val hashes = admitted.select(md5(col("text"))).distinct().count()
      val acct = spark.read.parquet(s"$out/accounting")
        .agg(sum(col("n_docs"))).head().getLong(0)
      (Seq("no_admitted_doc_is_blocklisted" -> (blocked == 0),
        "admitted_text_hashes_unique" -> (hashes == n),
        "accounting_n_docs_equals_docs_written" -> (acct == n)), n)
    })
    val (checks, nAdmitted) = gates.last._1
    val verifyMs = gates.map(_._2).sum
    ctx.log("verified")
    val (segEpochs, err, released) = drained
    val stateMb = Main.du(state)._1 + Main.du(out)._1
    Main.outcome(ctx, drain, segEpochs, err, released, setupS + startMs / 1000.0,
      fixed = Map("verify_s" -> verifyMs / 1000.0, "state_mb" -> stateMb),
      layers = layers ++ Map("streaming.prep_state_mb" -> stateMb,
        "functions.admit_ratio" -> nAdmitted.toDouble / (released.toLong * EpochDocs)),
      checks,
      Map("input_md5" -> digest, "epoch_docs" -> EpochDocs, "admitted_docs" -> nAdmitted,
        "doc_kinds" -> kinds, "query_start_ms" -> startMs))
  }
}
