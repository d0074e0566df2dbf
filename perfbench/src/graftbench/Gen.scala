package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.SplittableRandom

import scala.collection.mutable

/** One generated change, as the serial model sees it. `row` holds the
  * column values as text, in the table's column order; null for DELETE. */
final case class Ev(id: Long, action: String, schema: String, table: String,
                    pk: String, row: Array[String])

/** Running MD5 over everything a generator emits: the same seed must give
  * the same digest. */
final class InputDigest {
  private val md = MessageDigest.getInstance("MD5")
  def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
  def hex: String = md.digest().map(b => f"${b & 0xff}%02x").mkString
}

/** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    var acc = 0.0
    w.map { x => acc += x / total; acc }
  }
  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(n - 1, if (i >= 0) i else -i - 1)
  }
}

/** Action choice that respects the key's liveness, the way a database
  * emits changes: an INSERT is never emitted for a live key, and UPDATE or
  * DELETE never for a missing one. */
private[graftbench] object Actions {
  def pick(r: SplittableRandom, live: Boolean, pIns: Double,
           pUpd: Double): String = {
    val u = r.nextDouble()
    val a = if (u < pIns) "INSERT" else if (u < pIns + pUpd) "UPDATE" else "DELETE"
    if (!live) "INSERT" else if (a == "INSERT") "UPDATE" else a
  }
}

/**
 * `cdc_hot` input: wal2json logical-replication messages (1 to 3 changes
 * each) over four tables. Keys of every table are Zipf-distributed over
 * `keys` hot keys; the whitelist `public.*` minus the ignore list
 * `public.audit`, `sessions` keeps only `public.accounts` (70% of
 * changes).
 */
final class HotGen(seed: Long, keys: Int) {
  val Tables: Seq[(String, String, Double)] = Seq(
    ("public", "accounts", 0.70), ("public", "audit", 0.12),
    ("public", "sessions", 0.10), ("staging", "accounts", 0.08))
  val Columns = Seq("pk", "name", "email", "status", "balance", "is_test")
  private val Types = Seq("text", "text", "text", "text", "bigint", "boolean")
  private val Statuses = Array("active", "idle", "closed", "new", "frozen")
  private val rng = new SplittableRandom(seed)
  private val zipf = new Zipf(keys, 1.0)
  private val live = Tables.map(_ => new java.util.BitSet(keys)).toArray
  private var msgId = 0L
  val digest = new InputDigest

  private def quoted(s: String) = "\"" + s + "\""
  private def arr(xs: Seq[String]) = xs.mkString("[", ",", "]")

  /** One epoch of `changes` changes: (message id, message JSON) pairs and
    * the decoded events they stand for, in id order. */
  def epoch(changes: Int): (Array[(Long, String)], Array[Ev]) = {
    val msgs = mutable.ArrayBuffer.empty[(Long, String)]
    val evs = mutable.ArrayBuffer.empty[Ev]
    var left = changes
    while (left > 0) {
      msgId += 1
      val n = math.min(left, 1 + rng.nextInt(3))
      val parts = (0 until n).map { i =>
        val u = rng.nextDouble()
        var acc = 0.0
        val t = Tables.indexWhere { case (_, _, p) => acc += p; u < acc } match {
          case -1 => Tables.length - 1
          case j => j
        }
        val (schema, table, _) = Tables(t)
        val k = zipf.sample(rng)
        val pk = f"k$k%06d"
        val action = Actions.pick(rng, live(t).get(k), 0.05, 0.85)
        if (action == "DELETE") live(t).clear(k) else live(t).set(k)
        val id = (msgId << 20) + i
        val keyPart = s""""oldkeys":{"keynames":["pk"],"keytypes":["text"],"keyvalues":[${quoted(pk)}]}"""
        if (action == "DELETE") {
          evs += Ev(id, action, schema, table, pk, null)
          s"""{"kind":"delete","schema":"$schema","table":"$table",$keyPart}"""
        } else {
          val v = rng.nextInt(1000000)
          val row = Array(pk, s"n$v", s"u$v@example.com",
            Statuses(rng.nextInt(Statuses.length)),
            rng.nextInt(10000000).toString,
            (rng.nextInt(100) < 4).toString)
          evs += Ev(id, action, schema, table, pk, row)
          val values = row.zip(Types).map {
            case (x, "text") => quoted(x)
            case (x, _) => x
          }
          val cols = s""""columnnames":${arr(Columns.map(quoted))},""" +
            s""""columntypes":${arr(Types.map(quoted))},""" +
            s""""columnvalues":${arr(values.toSeq)}"""
          s"""{"kind":"${action.toLowerCase}","schema":"$schema",""" +
            s""""table":"$table",$cols""" +
            (if (action == "UPDATE") "," + keyPart else "") + "}"
        }
      }
      val msg = s"""{"change":[${parts.mkString(",")}],"nextlsn":"0/${msgId.toHexString.toUpperCase}"}"""
      digest.add(msg)
      msgs += ((msgId, msg))
      left -= n
    }
    (msgs.toArray, evs.toArray)
  }
}

/**
 * `cdc_wide` input: audit-table changes (row_to_json payloads) over one
 * table with `keySpace` keys. Ids 1 to `bootRows` are the bootstrap
 * snapshot: INSERTs of distinct keys, defined by closed formulas so Spark
 * can produce the same rows without the driver holding them
 * ([[bootKey]], [[bootRow]]). After that, each change is INSERT/UPDATE/
 * DELETE at 50/35/15, uniform over keys, with inserts drawn from missing
 * keys and updates/deletes from live ones.
 */
final class WideGen(seed: Long, keySpace: Int, bootRows: Int) {
  val Schema = "public"
  val Table = "items"
  private val rng = new SplittableRandom(seed)
  private val live = new java.util.BitSet(keySpace)
  private var nextId = bootRows.toLong
  val digest = new InputDigest
  require(bootRows <= keySpace && keySpace % WideGen.Stride != 0 &&
    BigInt(WideGen.Stride).gcd(keySpace) == 1, "stride must permute the key space")

  /** Salt of the bootstrap formulas. */
  val salt: Long = Math.floorMod(seed, 1000003L)
  /** Key of bootstrap id i (1-based): a permutation of the key space. */
  def bootKey(i: Long): Long = Math.floorMod(i * WideGen.Stride + salt, keySpace.toLong)
  def bootRow(i: Long): Array[String] = Array(bootKey(i).toString,
    s"item${(i * 7919L + salt) % 1000000L}", ((i * 104729L + salt) % 100000L).toString,
    s"t${(i * 31L + salt) % 64L}")

  (1L to bootRows.toLong).foreach(i => live.set(bootKey(i).toInt))
  digest.add(s"boot|$seed|$keySpace|$bootRows")

  /** Bootstrap INSERTs of the keys `wanted` selects, in id order. */
  def bootEvents(wanted: String => Boolean): Iterator[Ev] =
    (1L to bootRows.toLong).iterator.map(i => i -> bootKey(i).toString)
      .filter { case (_, k) => wanted(k) }
      .map { case (i, k) => Ev(i, "INSERT", Schema, Table, k, bootRow(i)) }

  def json(row: Array[String]): String =
    s"""{"pk":${row(0)},"name":"${row(1)}","qty":${row(2)},"tag":"${row(3)}"}"""

  private def row(k: Int): Array[String] = {
    val v = rng.nextInt(1000000)
    Array(k.toString, s"item$v", rng.nextInt(100000).toString,
      s"t${rng.nextInt(64)}")
  }

  private def randomKey(wantLive: Boolean): Int = {
    var k = rng.nextInt(keySpace)
    while (live.get(k) != wantLive) k = rng.nextInt(keySpace)
    k
  }

  private def emit(action: String, k: Int): Ev = {
    nextId += 1
    val r = if (action == "DELETE") null else row(k)
    if (action == "DELETE") live.clear(k) else live.set(k)
    val e = Ev(nextId, action, Schema, Table, k.toString, r)
    digest.add(s"$nextId|$action|${if (r == null) k.toString else json(r)}")
    e
  }

  def epoch(changes: Int): Array[Ev] = Array.fill(changes) {
    val u = rng.nextDouble()
    if (u < 0.50) emit("INSERT", randomKey(wantLive = false))
    else if (u < 0.85) emit("UPDATE", randomKey(wantLive = true))
    else emit("DELETE", randomKey(wantLive = true))
  }
}

object WideGen {
  /** Prime, so it permutes any key space it does not divide. */
  val Stride = 999983L
}

/** One generated document; `kind` is what the generator made it as. */
final case class Doc(id: Long, text: String, emb: Array[Float], kind: String)

/**
 * `prep_stream` input: documents over the sf0.1 `documents` vocabulary
 * (30 near-uniform words; lengths 10 to 100 words), with ~10% exact dups
 * and ~10% near-dups of earlier docs, ~2% blocklisted texts, ~5% junk and
 * ~3% semantic dups (fresh text, vector on a corpus point). Also builds
 * the blocklist, the LM training corpus and the IVF corpus (labelled by
 * nearest centroid).
 */
final class DocGen(seed: Long, val dims: Int = 32, cells: Int = 64) {
  val Vocab: Array[String] = Array("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  private val Junk = Array("@@@@", "####", "$$$$", "%%%%", "^^^^", "&&&&",
    "****", "((((", "))))", "~~~~")
  private val rng = new SplittableRandom(seed)
  val digest = new InputDigest

  private def gaussianUnit(): Array[Float] = {
    val v = Array.fill(dims)(gauss())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }
  private def gauss(): Double = {
    // Box-Muller on the seeded stream
    val u1 = math.max(rng.nextDouble(), 1e-12)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * rng.nextDouble())
  }
  private def words(n: Int): String =
    Array.fill(n)(Vocab(rng.nextInt(Vocab.length))).mkString(" ")
  private def freshText(): String = words(10 + rng.nextInt(91))

  val centroids: Array[Array[Float]] = Array.fill(cells)(gaussianUnit())

  private def nearestCell(v: Array[Float]): Int =
    centroids.indices.maxBy(c => dot(centroids(c), v))
  def dot(a: Array[Float], b: Array[Float]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** IVF corpus: (id, vector, cell) clustered around the centroids; ids
    * start at `firstId` (disjoint from the stream's). */
  def corpus(n: Int, firstId: Long): Array[(Long, Array[Float], Int)] =
    Array.tabulate(n) { i =>
      val c = centroids(rng.nextInt(cells))
      val raw = c.map(x => x + 0.35f * gauss().toFloat)
      val norm = math.sqrt(raw.map(x => x * x).sum)
      val v = raw.map(x => (x / norm).toFloat)
      digest.add(s"c${firstId + i}|${v.mkString(",")}")
      (firstId + i, v, nearestCell(v))
    }

  def texts(n: Int): Array[String] = Array.fill(n) {
    val t = freshText(); digest.add(t); t
  }

  private val history = mutable.ArrayBuffer.empty[Doc]

  /** One epoch of `n` docs with ids from `firstId`; `block` is the
    * blocklist, `corpusVecs` the IVF corpus vectors. */
  def epoch(n: Int, firstId: Long, block: Array[String],
            corpusVecs: Array[Array[Float]]): Array[Doc] = {
    val out = Array.tabulate(n) { i =>
      val id = firstId + i
      val u = rng.nextDouble()
      val d =
        if (u < 0.10 && history.nonEmpty) {
          val src = history(rng.nextInt(history.length))
          Doc(id, src.text, src.emb, "exact_dup")
        } else if (u < 0.20 && history.nonEmpty) {
          // one substitution per 40 words keeps 3-shingle Jaccard above 0.8
          val src = history(rng.nextInt(history.length))
          val w = src.text.split(" ")
          if (w.length < 40) Doc(id, freshText(), gaussianUnit(), "fresh")
          else {
            (0 until w.length / 40).foreach { _ =>
              w(rng.nextInt(w.length)) = "dup"
            }
            Doc(id, w.mkString(" "), src.emb, "near_dup")
          }
        } else if (u < 0.22) Doc(id, block(rng.nextInt(block.length)),
          gaussianUnit(), "blocked")
        else if (u < 0.27) Doc(id,
          Array.fill(8 + rng.nextInt(8))(Junk(rng.nextInt(Junk.length)))
            .mkString(" "), gaussianUnit(), "junk")
        else if (u < 0.30) {
          val c = corpusVecs(rng.nextInt(corpusVecs.length))
          val raw = c.map(x => x + 0.02f * gauss().toFloat)
          val norm = math.sqrt(raw.map(x => x * x).sum)
          Doc(id, freshText(), raw.map(x => (x / norm).toFloat), "semantic_dup")
        } else Doc(id, freshText(), gaussianUnit(), "fresh")
      digest.add(s"${d.id}|${d.text}|${d.emb.mkString(",")}")
      d
    }
    out.foreach(d => if (d.kind == "fresh") history += d)
    out
  }
}
