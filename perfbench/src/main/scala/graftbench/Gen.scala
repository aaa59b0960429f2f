package graftbench

import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Stateless seeded hashing: every generated value is a pure function of
  * the seed and the value's coordinates, so inputs do not depend on the
  * order they are generated in.
  */
object Mix {
  private def splitmix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def apply(xs: Long*): Long = xs.foldLeft(0x243F6A8885A308D3L)((h, x) => splitmix(h ^ x))

  /** Uniform in [0, 1). */
  def unit(xs: Long*): Double = (apply(xs: _*) >>> 11) * (1.0 / (1L << 53))

  /** Uniform integer in [0, n). */
  def below(n: Int, xs: Long*): Int = ((apply(xs: _*) >>> 1) % n).toInt

  /** Standard normal (Box–Muller over two coordinates' uniforms). */
  def gaussian(xs: Long*): Double = {
    val u1 = math.max(unit((xs :+ 1L): _*), 1e-300)
    val u2 = unit((xs :+ 2L): _*)
    math.sqrt(-2 * math.log(u1)) * math.cos(2 * math.Pi * u2)
  }
}

/** `cdc_load`'s source system: a keyed orders table that changes every
  * day. Rows key on a generated unique `rid`; `ver` counts a row's
  * updates, and every other column is a function of (seed, rid, ver).
  * The expected table after each load is this state.
  *
  * Each day's share of rows updated is drawn from the seed and the day
  * ([[changeFrac]]), so the measured day of ten seeds covers quiet and
  * busy days; deletes are a fifth and inserts half of that share.
  */
final class CdcGen(val seed: Long, val initialRows: Int) {
  import CdcGen._

  private var ver = Array.fill(initialRows)(0) // -1: deleted
  private var issued = initialRows
  private var live = initialRows
  var day = 0

  def liveRows: Int = live

  /** Advance the source one day and return the number of rows changed. */
  def advance(): Int = {
    day += 1
    val f = changeFrac(day)
    var changed = 0
    var rid = 0
    while (rid < issued) {
      if (ver(rid) >= 0) {
        val u = Mix.unit(seed, 1L, day.toLong, rid.toLong)
        if (u < f) { ver(rid) += 1; changed += 1 }
        else if (u < f * 1.2) { ver(rid) = -1; live -= 1; changed += 1 }
      }
      rid += 1
    }
    val inserts = math.max(1, (initialRows * f * 0.5).toInt)
    if (issued + inserts > ver.length)
      ver = java.util.Arrays.copyOf(ver, math.max(ver.length * 2, issued + inserts))
    (issued until issued + inserts).foreach(r => ver(r) = 0)
    issued += inserts
    live += inserts
    changed + inserts
  }

  /** Share of live rows updated on `d`, log-uniform between
    * [[MinChangeFrac]] and [[MaxChangeFrac]].
    */
  def changeFrac(d: Int): Double =
    MinChangeFrac * math.pow(MaxChangeFrac / MinChangeFrac, Mix.unit(seed, 4L, d.toLong))

  def version(rid: Long): Int =
    if (rid < 0 || rid >= issued) -1 else ver(rid.toInt)

  def row(rid: Long, v: Int): Row = {
    def h(col: Long) = Mix(seed, 2L, rid, v.toLong, col)
    Row(rid, v, (h(1) >>> 1).toInt % 5000, ((h(2) >>> 1) % 100).toInt,
      (h(3) >>> 1) % 1000000L, Statuses(((h(4) >>> 1) % Statuses.size).toInt),
      Seq(5L, 6L, 7L).map(c => Words(((h(c) >>> 1) % Words.size).toInt)).mkString(" "))
  }

  /** The current extract: every live row. */
  def extract: Seq[Row] =
    (0 until issued).iterator.filter(ver(_) >= 0).map(r => row(r.toLong, ver(r))).toSeq

  /** Expected (count, sum of qty) per status over the live rows. */
  def aggregate: Map[String, (Long, Long)] = {
    val acc = mutable.HashMap.empty[String, (Long, Long)]
    extract.foreach { r =>
      val (n, q) = acc.getOrElse(r.getString(5), (0L, 0L))
      acc(r.getString(5)) = (n + 1, q + r.getInt(3))
    }
    acc.toMap
  }

  def maxRid: Long = issued - 1L

  /** Null when `rows` (rid, ver, … as in [[Schema]], plus the mapping's
    * `record_status`) are exactly the live rows whose rid lies in
    * [lo, hi]; otherwise what differs.
    */
  def mismatch(rows: Seq[Row], lo: Long = Long.MinValue, hi: Long = Long.MaxValue): String = {
    val want = (0 until issued).count(r => ver(r) >= 0 && r >= lo && r <= hi)
    if (rows.size != want) return s"${rows.size} rows, expected $want"
    val seen = mutable.HashSet.empty[Long]
    rows.foreach { r =>
      val rid = r.getLong(0)
      if (!seen.add(rid)) return s"rid $rid appears twice"
      val v = version(rid)
      if (v < 0 || rid < lo || rid > hi) return s"rid $rid should not be there"
      val exp = row(rid, v)
      if ((0 until exp.size).exists(i => exp.get(i) != r.get(i)))
        return s"rid $rid is $r, expected $exp"
      if (r.getString(exp.size) != "loaded") return s"rid $rid record_status ${r.get(exp.size)}"
    }
    null
  }
}

object CdcGen {
  val Schema: StructType = StructType(Seq(
    StructField("rid", LongType, nullable = false),
    StructField("ver", IntegerType, nullable = false),
    StructField("cust", IntegerType, nullable = false),
    StructField("qty", IntegerType, nullable = false),
    StructField("price_cents", LongType, nullable = false),
    StructField("status", StringType, nullable = false),
    StructField("note", StringType, nullable = false)))

  val Fields: Seq[String] = Schema.fieldNames.toSeq.filterNot(_ == "rid")

  val MinChangeFrac = 0.005
  val MaxChangeFrac = 0.04

  val Statuses: IndexedSeq[String] = IndexedSeq("open", "packed", "shipped", "returned", "closed")
  private val Words: IndexedSeq[String] = CorpusGen.wordList(1024, "bcdfghjklmnp", 4, 8, 7L)
}

/** One corpus shard with its planted truth: `planted` maps a document id
  * to the kind of copy or defect planted in it.
  */
final case class Shard(index: Int, docs: Seq[(Long, String)], planted: Map[Long, String])

/** `corpus_prep`'s documents. Ordinary documents are built to pass the
  * pipeline's quality gate (length, stop-word share and mean token length
  * are checked here). Planted into each shard, at a duplicate share drawn
  * from the seed and the shard ([[dupShare]]):
  *  - `exact_dup`: a verbatim copy of an ordinary document;
  *  - `near_dup`: a copy with every 8-token line reversed and its last
  *    three lines dropped, so its token set stays close to the source's
  *    (Jaccard ≥ 0.75) while it shares no line and few 3-grams (x y x, or
  *    runs of common words) with it, and keeps fewer tokens through span
  *    removal;
  *  - `contaminated`: an ordinary document carrying a 12-token passage of
  *    one benchmark document, a different passage in each;
  *  - `too_short`: a 12-token document;
  * and a shared 8-token boilerplate header line on a fifth of the
  * ordinary documents. Benchmark words and corpus words come from disjoint
  * alphabets, so only planted passages share n-grams with the benchmark.
  */
final class CorpusGen(val seed: Long, val docsPerShard: Int) {
  import CorpusGen._

  private def token(doc: Long, i: Int): String =
    if (Mix.unit(seed, 11L, doc, i.toLong) < 0.08) Stopwords(Mix.below(Stopwords.size, seed, 12L, doc, i.toLong))
    else Vocab(zipfRank(Mix.unit(seed, 13L, doc, i.toLong)))

  /** An ordinary document body: whole 8-token lines, resampled until it
    * clears the quality gate with margin.
    */
  private def body(doc: Long): IndexedSeq[String] = {
    var attempt = 0L
    while (true) {
      val key = doc * 31 + attempt
      val lines = 12 + Mix.below(9, seed, 14L, key)
      val toks = (0 until lines * 8).map(i => token(key, i))
      val meanLen = toks.map(_.length).sum.toDouble / toks.size
      val stop = toks.count(Stopwords.contains).toDouble / toks.size
      val bigrams = toks.sliding(2).toSeq
      if (meanLen > 4.0 && meanLen < 5.0 && stop > 0.04 && bigrams.distinct.size == bigrams.size)
        return toks
      attempt += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** The benchmark documents contamination is checked against. */
  lazy val bench: Seq[(Long, String)] = (1 to BenchDocs).map { b =>
    b.toLong -> (0 until BenchTokens).map(i => BenchVocab(Mix.below(BenchVocab.size, seed, 21L, b.toLong, i.toLong))).mkString(" ")
  }

  private def passage(b: Int, offset: Int): Seq[String] =
    bench(b - 1)._2.split(' ').slice(offset, offset + 12).toSeq

  /** Share of shard `s` planted as duplicates, uniform between
    * [[MinDupShare]] and [[MaxDupShare]].
    */
  def dupShare(s: Int): Double =
    MinDupShare + (MaxDupShare - MinDupShare) * Mix.unit(seed, 35L, s.toLong)

  def shard(s: Int): Shard = {
    val n = docsPerShard
    val base = (s + 1).toLong * 10000000L
    val dup = dupShare(s)
    val nExact = (n * dup / 2).toInt
    val nNear = (n * dup / 2).toInt
    val nContam = math.min(n * 3 / 100, BenchDocs * 2)
    val nShort = n * 3 / 100
    val nOrdinary = n - nExact - nNear - nContam - nShort
    // ids are a seeded permutation of the shard's slots, so copies and
    // their sources interleave in id order
    val ids = (0 until n).sortBy(i => Mix(seed, 31L, s.toLong, i.toLong)).map(base + _)
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    val planted = mutable.HashMap.empty[Long, String]
    val bodies = (0 until nOrdinary).map(i => body(ids(i)))
    bodies.indices.foreach { i =>
      val header = i >= nExact + nNear && Mix.unit(seed, 32L, ids(i)) < 0.2
      docs += ids(i) -> ((if (header) Header else Nil) ++ bodies(i)).mkString(" ")
    }
    // the first nExact + nNear ordinary documents are copy sources
    (0 until nExact).foreach { j =>
      val id = ids(nOrdinary + j)
      docs += id -> bodies(j).mkString(" ")
      planted(id) = "exact_dup"
    }
    (0 until nNear).foreach { j =>
      val id = ids(nOrdinary + nExact + j)
      val src = bodies(nExact + j)
      docs += id -> src.grouped(8).toSeq.dropRight(3).flatMap(_.reverse).mkString(" ")
      planted(id) = "near_dup"
    }
    (0 until nContam).foreach { j =>
      val id = ids(nOrdinary + nExact + nNear + j)
      val b = body(id)
      val at = 8 * Mix.below(b.size / 8, seed, 34L, id)
      val pass = passage(1 + j % BenchDocs, 12 * (j / BenchDocs))
      docs += id -> (b.take(at) ++ pass ++ b.drop(at)).mkString(" ")
      planted(id) = "contaminated"
    }
    (0 until nShort).foreach { j =>
      val id = ids(nOrdinary + nExact + nNear + nContam + j)
      docs += id -> (0 until 12).map(i => token(id, i)).mkString(" ")
      planted(id) = "too_short"
    }
    Shard(s, docs.sortBy(_._1).toSeq, planted.toMap)
  }
}

object CorpusGen {
  val Stopwords: IndexedSeq[String] = IndexedSeq("the", "a", "an", "and", "or", "of", "in", "to", "is", "it")

  val MinDupShare = 0.05
  val MaxDupShare = 0.25

  val BenchDocs = 64
  val BenchTokens = 24

  /** `n` distinct words of `minLen` to `maxLen` letters drawn from
    * `alphabet`.
    */
  def wordList(n: Int, alphabet: String, minLen: Int, maxLen: Int, salt: Long): IndexedSeq[String] = {
    val out = mutable.LinkedHashSet.empty[String]
    var i = 0L
    while (out.size < n) {
      val len = minLen + Mix.below(maxLen - minLen + 1, salt, i, 0L)
      out += (0 until len).map(j => alphabet(Mix.below(alphabet.length, salt, i, j + 1L))).mkString
      i += 1
    }
    out.toIndexedSeq
  }

  /** Corpus words, drawn with Zipf's law (rank r has weight 1/r) as in
    * natural text, so most of a document's distinct words are rare.
    */
  val Vocab: IndexedSeq[String] = wordList(100000, "abcdefghijklm", 3, 6, 1L).filterNot(Stopwords.contains)
  private val ZipfCdf: Array[Double] = {
    val w = Vocab.indices.map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail.toArray
    w.map(_ / w.last)
  }
  private def zipfRank(u: Double): Int = {
    val i = java.util.Arrays.binarySearch(ZipfCdf, u)
    math.min(if (i >= 0) i else -i - 1, Vocab.size - 1)
  }
  val BenchVocab: IndexedSeq[String] = wordList(800, "nopqrstuvwxyz", 4, 7, 2L)
  val Header: Seq[String] = Seq("home", "about", "contact", "login", "search", "privacy", "terms", "help")
}

/** `ann_serve`'s vectors: `clusters` Gaussian clusters around random unit
  * centres in `dims` dimensions. Tightness varies over clusters: cluster c
  * has noise of norm about 0.15 + 0.45·c/clusters, so the index holds
  * both tight and loose clusters. Corpus ids are 0 until n; query ids
  * start at [[VecGen.QueryBase]], so no query is its own neighbour.
  */
final class VecGen(val seed: Long, val n: Int, val dims: Int, val clusters: Int) {
  private val centres: Array[Array[Double]] = Array.tabulate(clusters) { c =>
    val v = Array.tabulate(dims)(d => Mix.gaussian(seed, 41L, c.toLong, d.toLong))
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / norm)
  }

  def vector(id: Long): Array[Float] = {
    val c = Mix.below(clusters, seed, 42L, id)
    val sigma = (0.15 + 0.45 * c / clusters) / math.sqrt(dims.toDouble)
    Array.tabulate(dims)(d => (centres(c)(d) + sigma * Mix.gaussian(seed, 43L, id, d.toLong)).toFloat)
  }

  def corpus: Seq[Row] = (0L until n.toLong).map(i => Row(i, vector(i).toSeq))

  /** Query `q` of the workload's query stream (never a corpus vector). */
  def query(q: Int): Row = {
    val id = VecGen.QueryBase + q
    Row(id, vector(id).toSeq)
  }
}

object VecGen {
  val QueryBase = 1000000000L
  val Schema: StructType = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))
}
