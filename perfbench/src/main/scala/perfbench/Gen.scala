package perfbench

import java.util.SplittableRandom

/** Seeded input generators. The same seed gives byte-identical inputs;
  * another seed gives other inputs with the same shares. The engine only
  * ever sees the generated inputs, never the seed. */
object Gen {

  /** Independent, reproducible random stream for (seed, stream, index). */
  def rng(seed: Long, stream: Long, index: Long = 0L): SplittableRandom =
    new SplittableRandom(mix(mix(seed ^ 0x5DEECE66DL, stream), index))

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  // ------------------------------------------------------------ ingest

  /** Per block of [[IngestBlock]] records, exactly this many of each
    * injected kind; positions are shuffled by the seed. */
  val IngestBlock = 200
  val MalformedPerBlock = 2 // 1 %
  val OutlierPerBlock = 1   // 0.5 %
  val DupPerBlock = 4       // 2 %

  sealed trait Kind
  case object Fresh extends Kind
  case object Dup extends Kind
  case object Malformed extends Kind
  case object Outlier extends Kind

  /** One wire record. `uuid` is the record's key for every kind but
    * [[Malformed]], whose payload does not decode. */
  final case class Record(kind: Kind, uuid: String, payload: String)

  private val DayMs = 86400000L

  /** JSON wire payloads for the ingest stream. Each record carries its
    * creation stamp as `ingestion_time` (epoch ms). Duplicates repeat
    * an earlier fresh record's payload byte for byte (a redelivery). */
  final class IngestGen(seed: Long) {
    private var n = 0L
    private var kinds: Array[Kind] = Array.empty
    private val fresh = scala.collection.mutable.ArrayBuffer.empty[Record]
    private val r = rng(seed, 1)

    private def block(b: Long): Array[Kind] = {
      val ks = Array.fill[Kind](IngestBlock)(Fresh)
      var i = 0
      for ((k, c) <- Seq(Malformed -> MalformedPerBlock,
          Outlier -> OutlierPerBlock, Dup -> DupPerBlock); _ <- 0 until c) {
        ks(i) = k; i += 1
      }
      val br = rng(seed, 2, b)
      for (j <- ks.indices.reverse) {
        val k = br.nextInt(j + 1); val t = ks(j); ks(j) = ks(k); ks(k) = t
      }
      // a duplicate needs an earlier fresh record to repeat
      if (b == 0 && ks(0) == Dup) {
        val f = ks.indexWhere(_ == Fresh); ks(f) = Dup; ks(0) = Fresh
      }
      ks
    }

    private def uuid(): String = f"${r.nextLong()}%016x${r.nextLong()}%016x"

    private def json(u: String, i: Long, stampMs: Long): String =
      s"""{"identifier":"id-${i % 97}","name":"rec-$i","uuid":"$u",""" +
        s""""type":"t${i % 5}","ingestion_time":$stampMs,""" +
        s""""tags":[{"type":"k${i % 3}","value":"v${i % 11}"}]}"""

    def next(createdMs: Long): Record = {
      val pos = (n % IngestBlock).toInt
      if (pos == 0) kinds = block(n / IngestBlock)
      val i = n
      n += 1
      kinds(pos) match {
        case Fresh =>
          val rec = Record(Fresh, uuid(), "")
          val out = rec.copy(payload = json(rec.uuid, i, createdMs))
          fresh += out
          out
        case Dup =>
          val orig = fresh(r.nextInt(fresh.size))
          Record(Dup, orig.uuid, orig.payload)
        case Outlier =>
          val u = uuid()
          val t = if (i % 2 == 0) createdMs - 20L * 365 * DayMs
                  else createdMs + 90L * DayMs
          Record(Outlier, u, json(u, i, t))
        case Malformed =>
          val u = uuid()
          val full = json(u, i, createdMs)
          val p = if (i % 2 == 0) full.substring(0, full.length / 2)
                  else full.replace(s""""uuid":"$u",""", "")
          Record(Malformed, u, p)
      }
    }
  }

  // ------------------------------------------------------------ corpus

  val VocabSize = 30000
  val ZipfS = 1.1
  val MinWords = 20
  val MaxWords = 200
  /** Doc-value shares, exact in every block of [[DocBlock]] docs. */
  val DocBlock = 20
  val Langs: Seq[(String, Int)] = Seq("en" -> 10, "de" -> 4, "fr" -> 3, "es" -> 3)
  val Sources: Seq[(String, Int)] = Seq("web" -> 8, "books" -> 5, "news" -> 5, "code" -> 2)

  private val Cons = "bcdfghjklmnprstvz"
  private val Vows = "aeiou"
  private def syl(k: Int): String =
    s"${Cons(k / Vows.length % Cons.length)}${Vows(k % Vows.length)}"
  private val NSyl = Cons.length * Vows.length

  /** The word of Zipf rank `r` (0 = most frequent): letters only, so a
    * marker term carrying digits can never collide with it. */
  def word(r: Int): String =
    syl(r % NSyl) + syl(r / NSyl % NSyl) +
      (if (r >= NSyl * NSyl) syl(r / (NSyl * NSyl)) else "")

  private lazy val cdf: Array[Double] = {
    val w = Array.tabulate(VocabSize)(k => math.pow(k + 1.0, -ZipfS))
    val tot = w.sum
    var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }

  /** Zipf(1.1) rank over [[VocabSize]] words. */
  def zipfRank(r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(if (i >= 0) i else -i - 1, VocabSize - 1)
  }

  /** The value of doc `id` under `counts`: each block of [[DocBlock]] docs
    * holds each value exactly its count of times, at positions the seed
    * shuffles. */
  private def pick(seed: Long, stream: Long, id: Long, counts: Seq[(String, Int)]): String = {
    val slots = counts.flatMap { case (v, c) => Seq.fill(c)(v) }.toArray
    shuffle(rng(seed, stream, id / DocBlock), slots)((id % DocBlock).toInt)
  }

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  /** Document `id` of the corpus for `seed`; each document draws from its
    * own stream, so any one can be regenerated without the others. */
  def words(seed: Long, id: Long): Array[String] = {
    val r = rng(seed, 3, id)
    Array.fill(MinWords + r.nextInt(MaxWords - MinWords + 1))(word(zipfRank(r)))
  }

  def doc(seed: Long, id: Long, marker: Option[String] = None): Doc = {
    val ws = words(seed, id)
    val r = rng(seed, 4, id)
    marker.foreach(m => ws(r.nextInt(ws.length)) = m)
    val text = ws.mkString(" ")
    Doc(id, text, pick(seed, 8, id, Langs), pick(seed, 9, id, Sources),
      text.length.toLong)
  }

  def corpus(seed: Long, n: Int): Iterator[Doc] =
    Iterator.range(0, n).map(i => doc(seed, i.toLong))

  // ----------------------------------------------------- search requests

  val Templates: Seq[String] = Seq("match", "bool", "phrase", "aggs",
    "msearch", "page2")
  /** One block of operations: the reads in [[Templates]] order, with a
    * bulk append of [[BulkDocs]] new docs after the first [[BulkAt]]
    * reads. A run serves at least one whole block, so the first request
    * of every template is checked and a write sits among the reads. */
  val BulkAt = 4
  val BlockOps: Int = Templates.size + 1
  val BulkDocs = 200
  val HeadRanks = 100

  sealed trait Op
  /** A read: `bodies` holds one body, or three for msearch. */
  final case class Read(template: String, bodies: Seq[String]) extends Op
  final case class Bulk(batch: Int, marker: String, ids: Seq[Long]) extends Op

  def marker(seed: Long, batch: Int): String =
    s"mk${batch}q${java.lang.Long.toHexString(seed)}"

  private def shuffle[A](r: SplittableRandom, a: Array[A]): Array[A] = {
    val b = a.clone()
    for (j <- b.indices.reverse) {
      val k = r.nextInt(j + 1); val t = b(j); b(j) = b(k); b(k) = t
    }
    b
  }

  /** Read number `k` (0-based) of the search workload. */
  def readIndex(i: Int): Int = {
    val pos = (i - 1) % BlockOps
    (i - 1) / BlockOps * Templates.size + (if (pos < BulkAt) pos else pos - 1)
  }

  /** Operation number `i` (1-based) of the search workload over a corpus
    * of `n` docs. Every block serves the same template sequence; only the
    * words vary with the seed. */
  def op(seed: Long, n: Int, i: Int): Op =
    if ((i - 1) % BlockOps == BulkAt) {
      val b = (i - 1) / BlockOps
      Bulk(b, marker(seed, b),
        (0 until BulkDocs).map(j => n.toLong + b.toLong * BulkDocs + j))
    } else {
      val k = readIndex(i)
      val t = Templates(k % Templates.size)
      Read(t, bodies(seed, n, t, rng(seed, 6, k.toLong)))
    }

  /** A head term (rank < 100) or a tail term; tail ranks follow the
    * corpus' own Zipf law above 100. */
  private def term(r: SplittableRandom, head: Boolean): String =
    if (head) word(r.nextInt(HeadRanks))
    else {
      var k = zipfRank(r)
      while (k < HeadRanks) k = zipfRank(r)
      word(k)
    }

  /** Two terms, one head and one tail. */
  private def terms(r: SplittableRandom): String =
    s"${term(r, head = true)} ${term(r, head = false)}"

  /** Two adjacent words of a random corpus doc, so the phrase occurs. */
  private def phrase(seed: Long, n: Int, r: SplittableRandom): String = {
    val ws = words(seed, r.nextInt(n).toLong)
    val p = r.nextInt(ws.length - 1)
    s"${ws(p)} ${ws(p + 1)}"
  }

  private def lang(r: SplittableRandom): String = Langs(r.nextInt(Langs.size))._1

  /** The bodies of one read. Each template keeps one shape (term count,
    * head or tail term, page form) and the seed picks only the words, so
    * that the few reads a run holds differ between seeds in their words,
    * not their shape. */
  def bodies(seed: Long, n: Int, t: String, r: SplittableRandom): Seq[String] =
    t match {
      case "match" =>
        Seq(s"""{"query": {"match": {"text": "${terms(r)}"}}, "size": 10}""")
      case "bool" =>
        val lo = 200 + r.nextInt(600)
        Seq(s"""{"query": {"bool": {
               |  "must": [{"match": {"text": "${term(r, head = true)}"}}],
               |  "should": [{"match": {"text": "${term(r, head = false)}"}}],
               |  "must_not": [{"match_phrase": {"text": "${phrase(seed, n, r)}"}}],
               |  "filter": [{"range": {"n_chars": {"gte": $lo, "lt": ${lo + 600}}}},
               |             {"term": {"lang": "${lang(r)}"}}]}},
               |  "size": 10}""".stripMargin)
      case "phrase" =>
        Seq(s"""{"query": {"match_phrase": {"text": "${phrase(seed, n, r)}"}}, "size": 10}""")
      case "aggs" =>
        Seq(s"""{"query": {"match": {"text": "${term(r, head = true)}"}}, "size": 0,
               |  "aggs": {"langs": {"terms": {"field": "lang", "size": 4}},
               |           "len_hist": {"histogram": {"field": "n_chars", "interval": 200}}}}""".stripMargin)
      case "msearch" =>
        val lo = 200 + r.nextInt(600)
        Seq(s"""{"query": {"match": {"text": "${terms(r)}"}}, "size": 10}""",
          s"""{"query": {"bool": {"filter": [
             |  {"range": {"n_chars": {"gte": $lo, "lt": ${lo + 200}}}},
             |  {"term": {"lang": "${lang(r)}"}}]}}, "size": 10}""".stripMargin,
          s"""{"query": {"match": {"text": "${term(r, head = true)}"}},
             |  "sort": [{"n_chars": "asc"}], "from": 3, "size": 7}""".stripMargin)
      case "page2" =>
        val q = s"""{"match": {"text": "${term(r, head = true)}"}}"""
        Seq(s"""{"query": $q, "sort": [{"n_chars": {"order": "desc"}}], "size": 10, "from": 10}""")
    }

  // ---------------------------------------------------------- self-check

  private def sha(parts: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  private def ingestSample(seed: Long, k: Int): Seq[Record] = {
    val g = new IngestGen(seed)
    (0 until k).map(i => g.next(1700000000000L + i))
  }

  private def opsSample(seed: Long, n: Int, k: Int): Seq[Op] =
    (1 to k).map(op(seed, n, _))

  private def opText(seed: Long, o: Op): String = o match {
    case Read(t, bs) => t + bs.mkString("|")
    case Bulk(b, m, ids) =>
      s"$b $m " + ids.map(id => doc(seed, id, Some(m)).text).mkString("|")
  }

  /** Same seed ⇒ byte-identical inputs; another seed ⇒ other inputs
    * with the same shares. Returns (check, passed, detail). */
  def selfCheck(seed: Long): Seq[(String, Boolean, String)] = {
    val other = seed + 1
    val k = 2 * IngestBlock
    def ingestHash(s: Long) = sha(ingestSample(s, k).iterator.map(_.payload))
    def kindCounts(s: Long) = ingestSample(s, k).groupBy(_.kind).view
      .mapValues(_.size).toMap
    def corpusHash(s: Long) = sha(corpus(s, 200).map(_.toString))
    def opsHash(s: Long) = sha(opsSample(s, 1000, BlockOps).iterator.map(opText(s, _)))
    def templateCounts(s: Long) = opsSample(s, 1000, BlockOps)
      .groupBy { case Read(t, _) => t; case _: Bulk => "bulk" }.view.mapValues(_.size).toMap
    def langCounts(s: Long) = {
      val ds = corpus(s, 10 * DocBlock).toSeq
      Langs.map { case (l, _) => ds.count(_.lang == l) }
    }
    val (ih, ih2, io) = (ingestHash(seed), ingestHash(seed), ingestHash(other))
    val (ch, ch2, co) = (corpusHash(seed), corpusHash(seed), corpusHash(other))
    val (oh, oh2, oo) = (opsHash(seed), opsHash(seed), opsHash(other))
    val ls = langCounts(seed)
    val lo = langCounts(other)
    Seq(
      ("gen.ingest.same_seed_identical", ih == ih2, ih),
      ("gen.ingest.other_seed_differs", ih != io, io),
      ("gen.ingest.same_shares", kindCounts(seed) == kindCounts(other),
        kindCounts(seed).toString),
      ("gen.corpus.same_seed_identical", ch == ch2, ch),
      ("gen.corpus.other_seed_differs", ch != co, co),
      ("gen.corpus.same_shares", ls == lo && ls == Langs.map(_._2 * 10),
        s"lang counts $ls vs $lo"),
      ("gen.ops.same_seed_identical", oh == oh2, oh),
      ("gen.ops.other_seed_differs", oh != oo, oo),
      ("gen.ops.same_shares", templateCounts(seed) == templateCounts(other),
        templateCounts(seed).toString))
  }
}
