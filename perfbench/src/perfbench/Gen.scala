package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import scala.collection.mutable

/** Seed-derived random streams: every generator below draws from
  * `Rng(seed, stream)` so that one part of the input (a file, a batch)
  * is the same whichever other parts were generated before it.
  */
object Rng {
  def apply(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + 1L)
}

/** Input properties of the CloudFront workloads (recorded in the run
  * details so a result names the inputs it was measured on).
  */
final case class CfShape(
    files: Int,
    linesPerFile: Int,
    secondsPerFile: Int,
    lateShare: Double = 0.05,
    malformedShare: Double = 0.01,
    zipfS: Double = 1.1,
    nUris: Int = 2000) {
  def eventDays: Double = files.toDouble * secondsPerFile / 86400.0
  def describe: Map[String, Any] = Map(
    "files" -> files, "lines_per_batch" -> linesPerFile,
    "event_seconds_per_batch" -> secondsPerFile,
    "event_days" -> eventDays, "late_share" -> lateShare,
    "late_delay_s" -> "60-900", "malformed_share" -> malformedShare,
    "zipf_exponent" -> zipfS, "uris" -> nUris,
    "edges" -> CfGen.edges.length, "countries" -> CfGen.countries.length)
}

/** Valid generated lines, column-wise: the reference every CloudFront
  * check is computed from (no Spark involved).
  */
final class CfRecords {
  val time = mutable.ArrayBuilder.make[Long]
  val edge = mutable.ArrayBuilder.make[Int]
  val country = mutable.ArrayBuilder.make[Int]
  val result = mutable.ArrayBuilder.make[Int]
  val uri = mutable.ArrayBuilder.make[Int]
  val scBytes = mutable.ArrayBuilder.make[Long]
  val timeTaken = mutable.ArrayBuilder.make[Double]
}

/** One generated micro-batch file and the generator's own tallies. */
final case class CfFile(index: Int, text: Array[Byte], lines: Int,
    malformed: Int, late: Int,
    // (measure, epoch day) -> (sum, count) over the file's valid lines
    tallies: Map[(String, Long), (Double, Long)])

/** Raw CloudFront real-time log lines: all 40 fields in mapping order,
  * '-' for absent values, tab-delimited, one file per micro-batch.
  * Lines come in event-time order except the late ones, which carry an
  * event time 1-15 minutes before their neighbours (so some cross an
  * hour or day boundary). About `malformedShare` of the lines are
  * malformed: their timestamp field does not parse.
  */
object CfGen {
  val edges = Array("IAD89-C1", "IAD89-C2", "DFW53-C1", "SFO5-C3",
    "LHR62-C2", "FRA56-P1", "NRT57-P2", "SIN2-C1")
  val countries = Array("US", "GB", "DE", "JP", "IN", "BR", "FR", "CA",
    "AU", "SG")
  private val countryW = Array(30, 12, 10, 9, 9, 8, 7, 6, 5, 4)
  private val statuses = Array(200, 206, 304, 403, 404, 500, 502, 503)
  private val statusW = Array(70, 4, 10, 2, 8, 2, 2, 2)
  val results = Array("Hit", "Miss", "Error", "RefreshHit")
  private val agents = Array(
    "Mozilla/5.0%20(Windows%20NT%2010.0;%20Win64;%20x64)",
    "Mozilla/5.0%20(Macintosh;%20Intel%20Mac%20OS%20X%2014_5)",
    "curl/8.5.0", "okhttp/4.12.0")
  private val types = Array("text/html", "application/javascript",
    "image/png", "application/json")
  /** 2026-03-02T00:00:00Z: the first event of every generated stream. */
  val startEpoch = 1772409600L

  def uriName(i: Int): String = s"/static/v2/asset-$i.js"

  private def pick(r: SplittableRandom, w: Array[Int]): Int = {
    var x = r.nextInt(w.sum); var i = 0
    while (x >= w(i)) { x -= w(i); i += 1 }
    i
  }

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
    val tot = w.sum; var acc = 0.0
    w.map { x => acc += x; acc / tot }
  }

  private def hex(r: SplittableRandom, n: Int): String = {
    val a = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789_-"
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(a.charAt(r.nextInt(a.length))); i += 1 }
    sb.toString
  }

  /** Generate file `index` of a stream; valid lines are also appended
    * to `recs` when given.
    */
  def file(seed: Long, shape: CfShape, index: Int,
      recs: Option[CfRecords]): CfFile = {
    val r = Rng(seed, 1000L + index)
    val cdf = zipfCdf(shape.nUris, shape.zipfS)
    val t0Ms = (startEpoch + index.toLong * shape.secondsPerFile) * 1000L
    val spanMs = shape.secondsPerFile * 1000L
    val sb = new java.lang.StringBuilder(shape.linesPerFile * 420)
    val tallies = mutable.Map.empty[(String, Long), (Double, Long)]
    def tally(m: String, day: Long, v: Double): Unit = {
      val (s, c) = tallies.getOrElse((m, day), (0.0, 0L))
      tallies((m, day)) = (s + v, c + 1)
    }
    var malformed = 0; var late = 0
    var i = 0
    while (i < shape.linesPerFile) {
      var tMs = t0Ms + spanMs * i / shape.linesPerFile + r.nextInt(50)
      if (r.nextDouble() < shape.lateShare && index > 0) {
        tMs -= 60000L + r.nextInt(840001); late += 1
      }
      val edge = r.nextInt(edges.length)
      val country = pick(r, countryW)
      val status = statuses(pick(r, statusW))
      val res = if (status >= 400) 2
        else { val x = r.nextInt(100); if (x < 72) 0 else if (x < 96) 1 else 3 }
      val u = java.util.Arrays.binarySearch(cdf, r.nextDouble()) match {
        case k if k >= 0 => k
        case k => math.min(-k - 1, shape.nUris - 1)
      }
      val bytes: Long =
        if (status == 304) 250L + r.nextInt(100)
        else 400L + (u * 7919L) % 60000L + r.nextInt(2000)
      val takenMs = 1 + r.nextInt(if (res == 1) 900 else 120)
      val ttfbMs = math.max(1, takenMs - r.nextInt(takenMs))
      val tsText = s"${tMs / 1000}.${"%03d".format(tMs % 1000)}"
      val fields = Array[String](
        tsText, s"198.51.${r.nextInt(256)}.${r.nextInt(256)}",
        "%.3f".format(ttfbMs / 1000.0), status.toString, bytes.toString,
        if (r.nextInt(20) == 0) "HEAD" else "GET", "https",
        "d111111abcdef8.cloudfront.net", uriName(u),
        (120 + r.nextInt(400)).toString, edges(edge), hex(r, 56),
        "www.example.com", "%.3f".format(takenMs / 1000.0), "HTTP/2.0",
        "IPv4", agents(r.nextInt(agents.length)), "-", "-",
        if (r.nextInt(4) == 0) s"v=${r.nextInt(9)}" else "-",
        results(res), "-", "TLSv1.3", "TLS_AES_128_GCM_SHA256",
        results(res), "-", "-", types(u % types.length), bytes.toString,
        "-", "-", (1024 + r.nextInt(60000)).toString, results(res),
        countries(country), "gzip", "*/*", "*", "-", "-",
        (8 + r.nextInt(12)).toString)
      if (r.nextDouble() < shape.malformedShare) {
        malformed += 1
        if (r.nextBoolean()) sb.append("#Version: 1.0 corrupted fragment ").append(hex(r, 12))
        else sb.append('x').append(fields.take(12).mkString("\t"))
      } else {
        sb.append(fields.mkString("\t"))
        val tSec = tMs / 1000
        val day = Math.floorDiv(tSec, 86400L)
        val taken = java.lang.Double.parseDouble(fields(13))
        tally("sc_bytes", day, bytes.toDouble)
        tally("time_taken", day, taken)
        recs.foreach { c =>
          c.time += tSec; c.edge += edge; c.country += country
          c.result += res; c.uri += u; c.scBytes += bytes
          c.timeTaken += taken
        }
      }
      sb.append('\n')
      i += 1
    }
    CfFile(index, sb.toString.getBytes(UTF_8), shape.linesPerFile,
      malformed, late, tallies.toMap)
  }
}

/** Input properties of the corpus workload. */
final case class CorpusShape(
    historyDocs: Int,
    batchDocs: Int,
    exactShare: Double = 0.2,
    nearShare: Double = 0.1,
    vocab: Int = 50000,
    minTokens: Int = 120,
    maxTokens: Int = 200) {
  def describe: Map[String, Any] = Map(
    "history_docs" -> historyDocs, "batch_docs" -> batchDocs,
    "exact_dup_share" -> exactShare, "near_dup_share" -> nearShare,
    "near_dup_min_jaccard" -> CorpusGen.minNearJaccard,
    "vocabulary" -> vocab, "tokens_per_doc" -> s"$minTokens-$maxTokens")
}

/** One generated corpus batch with its planted truth. */
final case class CorpusBatch(docs: Seq[(Long, String)],
    exact: Map[Long, Long], near: Map[Long, Long], novel: Set[Long]) {
  def textBytes: Long = docs.iterator.map(_._2.getBytes(UTF_8).length.toLong).sum
}

/** (doc_id, text) documents: a history slice, then batches that each
  * plant the same shares of exact copies (equal after lower-casing and
  * whitespace collapsing, the fingerprint normalisation) and near copies
  * (a few words replaced; word-3-shingle Jaccard at least
  * [[CorpusGen.minNearJaccard]]) of earlier novel documents. The rest is
  * novel text drawn uniformly from a large vocabulary.
  */
final class CorpusGen(seed: Long, shape: CorpusShape) {
  private val words: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "su", "ta", "ri", "vo", "pe",
      "du", "ba", "go", "zi", "fe", "ha", "jo", "qu", "wy", "xe", "ny",
      "sol", "mar", "tin", "bel", "cor", "dan", "vel", "rum", "pix", "gal")
    val r = Rng(seed, 7L)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < shape.vocab) {
      val n = 2 + r.nextInt(3)
      seen += (0 until n).map(_ => syl(r.nextInt(syl.length))).mkString
    }
    seen.toArray
  }
  // novel documents any later batch may copy: (doc_id, words)
  private val pool = mutable.ArrayBuffer.empty[(Long, Array[String])]
  private var nextId = 1L
  private var nextBatch = 0

  private def novelWords(r: SplittableRandom): Array[String] =
    Array.fill(shape.minTokens + r.nextInt(shape.maxTokens - shape.minTokens + 1))(
      words(r.nextInt(words.length)))

  private def exactCopy(r: SplittableRandom, w: Array[String]): String = {
    val seps = Array(" ", "  ", "\t", " \n ")
    val sb = new StringBuilder(if (r.nextBoolean()) "  " else "")
    w.zipWithIndex.foreach { case (t, i) =>
      if (i > 0) sb.append(seps(r.nextInt(seps.length)))
      sb.append(if (r.nextInt(5) == 0) t.toUpperCase else t)
    }
    sb.append(" ").toString
  }

  private def nearCopy(r: SplittableRandom, w: Array[String]): Array[String] = {
    val out = w.clone()
    val edits = 2 + r.nextInt(2)
    // edits are spaced so each touches its own three shingles
    val stride = out.length / edits
    (0 until edits).foreach { e =>
      val at = e * stride + 3 + r.nextInt(math.max(1, stride - 6))
      var repl = words(r.nextInt(words.length))
      while (repl == out(at)) repl = words(r.nextInt(words.length))
      out(at) = repl
    }
    out
  }

  def history(): Seq[(Long, String)] = {
    val r = Rng(seed, 11L)
    (0 until shape.historyDocs).map { _ =>
      val w = novelWords(r); val id = nextId; nextId += 1
      pool += id -> w
      id -> w.mkString(" ")
    }
  }

  /** The next batch; batches must be drawn in order (copies pick their
    * sources among the novel documents of history and earlier batches).
    */
  def nextBatchDocs(): CorpusBatch = {
    val r = Rng(seed, 100000L + nextBatch); nextBatch += 1
    val nExact = math.round(shape.batchDocs * shape.exactShare).toInt
    val nNear = math.round(shape.batchDocs * shape.nearShare).toInt
    val kinds = scala.util.Random.javaRandomToRandom(
      new java.util.Random(r.nextLong())).shuffle(
      Seq.fill(nExact)(0) ++ Seq.fill(nNear)(1) ++
        Seq.fill(shape.batchDocs - nExact - nNear)(2))
    val exact = Map.newBuilder[Long, Long]
    val near = Map.newBuilder[Long, Long]
    val novel = Set.newBuilder[Long]
    val fresh = mutable.ArrayBuffer.empty[(Long, Array[String])]
    val docs = kinds.map { k =>
      val id = nextId; nextId += 1
      k match {
        case 0 =>
          val (src, w) = pool(r.nextInt(pool.length))
          exact += id -> src
          id -> exactCopy(r, w)
        case 1 =>
          val (src, w) = pool(r.nextInt(pool.length))
          val c = nearCopy(r, w)
          require(CorpusGen.jaccard(w, c) >= CorpusGen.minNearJaccard,
            s"near copy $id of $src is below the planted Jaccard floor")
          near += id -> src
          id -> c.mkString(" ")
        case _ =>
          val w = novelWords(r)
          novel += id; fresh += id -> w
          id -> w.mkString(" ")
      }
    }
    pool ++= fresh
    CorpusBatch(docs, exact.result(), near.result(), novel.result())
  }
}

object CorpusGen {
  /** Planted near copies sit well above the engine's τ = 0.8. */
  val minNearJaccard = 0.85

  /** Word-3-shingle Jaccard of two lower-case word sequences. */
  def jaccard(a: Array[String], b: Array[String]): Double = {
    def sh(w: Array[String]) = w.sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    (x intersect y).size.toDouble / (x union y).size
  }
}
