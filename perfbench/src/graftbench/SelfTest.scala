package graftbench

import org.apache.spark.sql.SparkSession

import graft.operators.Materializer
import graft.sources.Wal2Json

/** Self-tests of the benchmark's own code; run with perfbench/selftest.py.
  * Exits non-zero when any check fails. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case t: Throwable => println(s"  error: $t"); false }
    println(s"${if (pass) "PASS" else "FAIL"} $name")
    if (!pass) failures += 1
  }

  def main(args: Array[String]): Unit = {
    generators()
    tails()
    intervals()
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try serialModel(spark) finally spark.stop()
    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    if (failures > 0) sys.exit(1)
  }

  private def generators(): Unit = {
    def hot(seed: Long) = { val g = new HotGen(seed, 500); (1 to 3).foreach(_ => g.epoch(700)); g.digest.hex }
    def wide(seed: Long) = { val g = new WideGen(seed, 5000, 1000); g.epoch(700); g.digest.hex }
    def docs(seed: Long) = {
      val g = new DocGen(seed)
      val block = g.texts(20)
      val corpus = g.corpus(50, 1000000L).map(_._2)
      (1 to 2).foreach(e => g.epoch(300, e * 300L, block, corpus))
      g.digest.hex
    }
    check("same seed gives identical cdc_hot input digest")(hot(7) == hot(7) && hot(7) != hot(8))
    check("same seed gives identical cdc_wide input digest")(wide(7) == wide(7) && wide(7) != wide(8))
    check("same seed gives identical prep_stream input digest")(docs(7) == docs(7) && docs(7) != docs(8))
  }

  private def tails(): Unit = {
    import Stats._
    val r = new scala.util.Random(3)
    val thirty = r.shuffle((1 to 30).map(_.toDouble))
    check("tail of 30 samples is the 20th value, p66.7, 10 beyond")(
      tailWithBeyond(thirty).contains(Tail(20.0, 100.0 * 20 / 30, 30)))
    check("tail of 11 samples is the minimum")(
      tailWithBeyond((11 to 1 by -1).map(_.toDouble)).contains(Tail(1.0, 100.0 / 11, 11)))
    check("10 samples support no tail")(tailWithBeyond((1 to 10).map(_.toDouble)).isEmpty)
    check("ties count as samples beyond")(
      tailWithBeyond(Seq.fill(12)(5.0) :+ 1.0).contains(Tail(5.0, 100.0 * 3 / 13, 13)))
    val few = (1 to 4).map(i => Epoch(i, 1000L * i, 100L * i, 10L, Map.empty, null, null))
    val (m, info) = Main.epochMetrics(few, 10L)
    check("below 11 epochs the tail is the slowest epoch, p100")(
      m("epoch_tail_ms") == 400.0 && info("epoch_tail_percentile") == 100.0 &&
        info("epoch_tail_samples") == 4)
    check("median of even and odd samples")(
      median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5 && median(Seq(9.0, 1.0, 5.0)) == 5.0)
  }

  private def intervals(): Unit = {
    import Stats._
    check("overlapping task intervals are counted once")(
      unionLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 40L) == 25L &&
        idleLength(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 40L) == 15L)
    check("intervals are clipped to the epoch window")(
      idleLength(Seq((-5L, 5L), (35L, 50L)), 0L, 40L) == 30L)
    check("nested and touching intervals")(
      unionLength(Seq((0L, 100L), (10L, 20L)), 0L, 50L) == 50L &&
        unionLength(Seq((0L, 10L), (10L, 20L)), 0L, 20L) == 20L)
    check("an epoch with no task is idle throughout")(idleLength(Nil, 100L, 160L) == 60L)
  }

  private def serialModel(spark: SparkSession): Unit = {
    import spark.implicits._
    val schema = Cdc.wideRowSchema
    def row(k: Int, name: String) = Array(k.toString, name, "1", "t")
    // inserts on a live key are skipped, updates upsert (also a missing
    // key), deletes remove (also a no-op on a missing key), re-inserts
    val evs = Seq(
      Ev(1, "INSERT", "public", "items", "1", row(1, "a")),
      Ev(2, "INSERT", "public", "items", "1", row(1, "dup")),
      Ev(3, "UPDATE", "public", "items", "1", row(1, "b")),
      Ev(4, "INSERT", "public", "items", "2", row(2, "c")),
      Ev(5, "DELETE", "public", "items", "2", null),
      Ev(6, "INSERT", "public", "items", "2", row(2, "d")),
      Ev(7, "UPDATE", "public", "items", "3", row(3, "e")),
      Ev(8, "DELETE", "public", "items", "4", null),
      Ev(9, "INSERT", "public", "items", "5", row(5, "f")),
      Ev(10, "DELETE", "public", "items", "5", null))
    val model = new SerialModel(_ => true)
    evs.foreach(model(_))
    val g = new WideGen(0, 10, 0)
    val changelog = evs.map(e => (e.id, e.action,
      Option(e.row).map(g.json).orNull,
      if (e.action == "INSERT") null else s"""{"pk":${e.pk}}"""))
      .toDF("id", "action", "new_values", "old_values")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.get(0).toString -> r.toSeq.map(_.toString)).toMap
    val want = model.state.map { case (k, v) => k -> v.toSeq }.toMap
    check("serial model equals Materializer.materialize on a tiny changelog")(
      rows(Materializer.materialize(changelog, "pk", schema)) == want &&
        want.keySet == Set("1", "2", "3"))

    // the same agreement through cdc_hot's decode and stages
    val gen = new HotGen(11, 50)
    val (msgs, hotEvs) = gen.epoch(600)
    val hotModel = new SerialModel(_ => true)
    hotEvs.foreach(e => HotStages(e).foreach(hotModel(_)))
    val decoded = Cdc.hotStages(Wal2Json.decode(msgs.toSeq.toDF("msg_id", "msg"), "msg_id", "msg"))
    val got = rows(Materializer.materialize(decoded, "pk", Cdc.hotRowSchema))
    check("serial model with cdc_hot stages equals decode → stages → materialize")(
      got == hotModel.state.map { case (k, v) => k -> v.toSeq }.toMap && got.nonEmpty)
  }
}
