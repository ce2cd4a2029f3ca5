package graftbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import graft.sources.ChangefeedLog.Record

/** Seeded input generators. Every input is a pure function of the seed,
  * and each generator returns its ground truth beside the inputs; the
  * program only ever sees the files written from `inputs`. */
object Gen {
  /** HLC-style commit timestamps start here (µs since epoch). */
  val BaseUs = 1700000000000000L
  val Tables = Vector("accounts", "transfers")

  def resolvedRow(us: Long): Record =
    Record(us, None, None, s"""{"resolved":"$us.0000000000"}""")

  /** The envelope the relay must publish for a change row. */
  def envelope(r: Record): String =
    s"""{"table":"${r.tbl.get}","key":"${r.key.get}","value":${r.value}}"""

  private def afterValue(rnd: java.util.Random, id: Long): String = {
    val memo = Iterator.fill(8)(('a' + rnd.nextInt(26)).toChar).mkString
    s"""{"after": {"id": $id, "amount": ${rnd.nextInt(1000000)}, "memo": "$memo"}}"""
  }

  /** SHA-256 over a canonical rendering of records: the self-check that
    * one seed yields the same bytes every time. */
  def digest(segments: Seq[Seq[Record]]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    segments.foreach(_.foreach { r =>
      md.update(s"${r.sortUs}\t${r.tbl.getOrElse("\\N")}\t${r.key.getOrElse("\\N")}\t${r.value}\n"
        .getBytes(StandardCharsets.UTF_8))
    })
    md.digest().map("%02x".format(_)).mkString
  }

  // ---------------------------------------------------------------- relay

  /** A live feed: `history` segments sit behind the stored cursor, `live`
    * segments are moved into the log on a schedule. Every change row has
    * its own key, so a published message identifies its segment. Each
    * segment ends with one resolved row covering it. */
  final case class LiveFeed(history: Seq[Seq[Record]], live: Seq[Seq[Record]]) {
    def historyCursor: Long = history.last.last.sortUs
    def maxResolved: Long = live.last.last.sortUs
  }

  def liveFeed(seed: Long, historySegments: Int, historyRowsPerSegment: Int,
      liveSegments: Int, liveRowsPerSegment: Int): LiveFeed = {
    val rnd = new java.util.Random(seed)
    var us = BaseUs
    var id = 0L
    def segment(rows: Int): Seq[Record] = {
      val changes = (0 until rows).map { i =>
        us += 1 + rnd.nextInt(20)
        id += 1
        Record(us, Some(Tables(i % 2)), Some(s"[$id]"), afterValue(rnd, id))
      }
      us += 1
      changes :+ resolvedRow(us)
    }
    val history = Seq.fill(historySegments)(segment(historyRowsPerSegment))
    val live = Seq.fill(liveSegments)(segment(liveRowsPerSegment))
    LiveFeed(history, live)
  }

  /** A backlog with repeated keys, tombstones and malformed payloads. */
  final case class Backlog(segments: Seq[Seq[Record]], malformed: Seq[String]) {
    def rows: Long = segments.map(_.size.toLong).sum
    def changes: Seq[Record] = segments.flatten.filter(_.tbl.isDefined)
    def good: Seq[Record] = {
      val bad = malformed.toSet
      changes.filterNot(r => bad.contains(r.value))
    }
    def maxResolved: Long = segments.flatten.filter(_.tbl.isEmpty).map(_.sortUs).max
    /** Latest good change per (table, key). */
    def latest: Map[(String, String), Record] =
      good.groupBy(r => (r.tbl.get, r.key.get)).map { case (k, rs) =>
        k -> rs.maxBy(r => (r.sortUs, r.value))
      }
  }

  def isTombstone(value: String): Boolean = value == """{"after": null}"""

  def backlog(seed: Long, segments: Int, rowsPerSegment: Int, keysPerTable: Int,
      malformedPerMille: Int = 10, tombstonePerMille: Int = 30): Backlog = {
    val rnd = new java.util.Random(seed)
    var us = BaseUs
    var n = 0L
    val malformed = Vector.newBuilder[String]
    val segs = Vector.fill(segments) {
      val changes = Vector.fill(rowsPerSegment) {
        us += 1 + rnd.nextInt(20)
        n += 1
        // squared uniform: low key ids repeat far more often than high ones
        val u = rnd.nextDouble()
        val key = s"[${(u * u * keysPerTable).toInt}]"
        val tbl = Tables(rnd.nextInt(2))
        val roll = rnd.nextInt(1000)
        val value =
          if (roll < malformedPerMille) {
            // unique malformed payloads: truncated JSON, JSON without an
            // `after` key, and valid JSON that is not an object
            val v = rnd.nextInt(3) match {
              case 0 => s"""{"after": {"id": $n, "amount": """
              case 1 => s"""{"before": {"id": $n}}"""
              case _ => s"[$n, ${rnd.nextInt(100)}]"
            }
            malformed += v
            v
          } else if (roll < malformedPerMille + tombstonePerMille) """{"after": null}"""
          else afterValue(rnd, n)
        Record(us, Some(tbl), Some(key), value)
      }
      us += 1
      changes :+ resolvedRow(us)
    }
    Backlog(segs, malformed.result())
  }

  // -------------------------------------------------------------- curate

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** A document corpus with planted near-duplicate clusters (same
    * source, a few words substituted) and an embedding set whose ten
    * query vectors (vec_id 0-9) each have five planted close neighbours. */
  final case class Corpus(docs: Seq[Doc], clusters: Seq[Seq[Long]],
      vectors: Seq[(Long, Array[Float], Int)], neighbours: Map[Long, Set[Long]]) {
    def plantedPairs: Set[(Long, Long)] = clusters.flatMap { c =>
      val s = c.sorted
      for (i <- s.indices; j <- i + 1 until s.size) yield (s(i), s(j))
    }.toSet

    def digest: String = {
      val md = MessageDigest.getInstance("SHA-256")
      docs.foreach(d => md.update(s"${d.id}\t${d.text}\t${d.lang}\t${d.source}\n"
        .getBytes(StandardCharsets.UTF_8)))
      vectors.foreach { case (id, v, l) =>
        md.update(s"$id\t$l\t${v.map(java.lang.Float.floatToIntBits).mkString(",")}\n"
          .getBytes(StandardCharsets.UTF_8))
      }
      md.digest().map("%02x".format(_)).mkString
    }
  }

  val Stopwords = Vector("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")
  private val Langs = Vector("en", "en", "en", "de", "fr", "es", "zh")

  def corpus(seed: Long, docs: Int, vectors: Int, dim: Int = 64): Corpus = {
    val rnd = new java.util.Random(seed)
    val vocab = Vector.fill(8000)(
      Iterator.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString)
    def word(): String =
      if (rnd.nextInt(100) < 8) Stopwords(rnd.nextInt(Stopwords.size))
      else vocab(rnd.nextInt(vocab.size))
    def baseText(): Vector[String] = {
      val n = 30 + rnd.nextInt(130)
      if (rnd.nextInt(100) < 5) {
        // repetitive boilerplate: a short phrase over and over
        val phrase = Vector.fill(6)(word())
        Vector.fill((n + 5) / 6)(phrase).flatten.take(n)
      } else Vector.fill(n)(word())
    }
    def variant(base: Vector[String]): Vector[String] =
      base.map(w => if (rnd.nextInt(100) < 6) vocab(rnd.nextInt(vocab.size)) else w)

    // (text, source, lang, cluster index or -1); doc ids are assigned
    // after a shuffle so cluster members are spread over the id space
    val nClustered = docs / 5
    val planned = scala.collection.mutable.ArrayBuffer.empty[(Vector[String], String, String, Int)]
    var cluster = 0
    while (planned.size < nClustered) {
      val size = 2 + rnd.nextInt(3)
      val base = Vector.fill(60 + rnd.nextInt(60))(word())
      val src = s"src${rnd.nextInt(4)}"
      val lang = Langs(rnd.nextInt(Langs.size))
      planned += ((base, src, lang, cluster))
      (1 until size).foreach(_ => planned += ((variant(base), src, lang, cluster)))
      cluster += 1
    }
    while (planned.size < docs)
      planned += ((baseText(), s"src${rnd.nextInt(4)}", Langs(rnd.nextInt(Langs.size)), -1))
    val order = shuffled(rnd, planned.indices.toVector)
    val withIds = order.zipWithIndex.map { case (pi, id) => (planned(pi), id.toLong) }
    val docRows = withIds.map { case ((toks, src, lang, _), id) =>
      Doc(id, toks.mkString(" "), lang, src)
    }.sortBy(_.id)
    val clusters = withIds.filter(_._1._4 >= 0).groupBy(_._1._4).values
      .map(_.map(_._2).sorted).toSeq.sortBy(_.head)

    def gaussian(): Array[Double] = Array.fill(dim)(rnd.nextGaussian())
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val vecs = Array.fill[Array[Double]](vectors)(null)
    (0 until 10).foreach(q => vecs(q) = unit(gaussian()))
    val slots = shuffled(rnd, (10 until vectors).toVector)
    val neighbours = (0 until 10).map { q =>
      val ids = slots.slice(q * 5, q * 5 + 5)
      ids.zipWithIndex.foreach { case (id, j) =>
        val sigma = 0.15 + 0.08 * j
        val noise = gaussian().map(_ * sigma / math.sqrt(dim.toDouble))
        vecs(id) = unit(vecs(q).zip(noise).map { case (a, b) => a + b })
      }
      q.toLong -> ids.map(_.toLong).toSet
    }.toMap
    (10 until vectors).foreach(i => if (vecs(i) == null) vecs(i) = unit(gaussian()))
    val vecRows = vecs.indices.map(i =>
      (i.toLong, vecs(i).map(_.toFloat), rnd.nextInt(8)))
    Corpus(docRows, clusters, vecRows, neighbours)
  }

  private def shuffled[T](rnd: java.util.Random, xs: Vector[T]): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }
}
