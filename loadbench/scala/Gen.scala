package loadbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.SplittableRandom

/** Seeded, single-threaded input generators of the workloads.
  *
  * Every generator is a pure function of its seed (and, for the corpus, of
  * the fixture's documents): it draws from one `SplittableRandom` in a
  * fixed order, so the same seed yields the same rows and the same bytes.
  * Each generator also feeds a [[Digest]] with a canonical encoding of what
  * it produced; the self-test compares digests across seeds. */
object Gen {

  /** Running SHA-256 over the canonical form of generated inputs. */
  final class Digest {
    private val md = MessageDigest.getInstance("SHA-256")
    def add(s: String): Unit = { md.update(s.getBytes(UTF_8)); md.update(0.toByte) }
    def add(bytes: Array[Byte]): Unit = md.update(bytes)
    def hex: String = md.digest().map(b => f"$b%02x").mkString
  }

  /** Zipf(s) sampler over ranks 0 until n (precomputed CDF). */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def draw(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val syllables = Array("ka", "lo", "mi", "ne", "ru", "sa", "ti", "vo",
    "za", "pe", "do", "fu", "gi", "ha", "ju", "xe", "be", "co", "ly", "wa")

  /** A pronounceable vocabulary, distinct words, deterministic by seed. */
  def vocabulary(r: SplittableRandom, n: Int): Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val len = 2 + r.nextInt(3)
      seen += (0 until len).map(_ => syllables(r.nextInt(syllables.length))).mkString
    }
    seen.toArray
  }

  private def writeString(p: Path, s: String, d: Digest): Unit = {
    Files.createDirectories(p.getParent)
    val b = s.getBytes(UTF_8)
    Files.write(p, b)
    d.add(p.getFileName.toString)
    d.add(b)
  }

  private def jsonStr(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }

  // ---- hub_sync: pretalx schedule + Hub page envelopes per round ----------

  final case class Talk(code: String, title: String, room: Int,
                        abstractText: String, speakers: Seq[String],
                        start: String, duration: String)

  /** The festival across rounds: round 0 is the initial schedule; each
    * later round cancels ~2%, edits ~5% and adds ~2% new talks. */
  final class Festival(seed: Long, nTalks: Int, nSpeakers: Int) {
    private val r = new SplittableRandom(seed)
    private val vocab = vocabulary(r, 400)
    private var nextCode = 0
    private def code(): String = {
      nextCode += 1
      // a seeded bijection of the counter keeps codes unique but unordered
      val x = (nextCode.toLong * 2654435761L + seed) & 0xffffffffL
      "T" + java.lang.Long.toString(x, 36).toUpperCase + "-" + nextCode
    }
    private def words(n: Int): String =
      (0 until n).map(_ => vocab(r.nextInt(vocab.length))).mkString(" ")
    private def talk(c: String): Talk = {
      val day = 27 + r.nextInt(4)
      val hh = 10 + r.nextInt(12)
      Talk(c, if (r.nextInt(50) == 0) null else words(3 + r.nextInt(4)),
        1 + r.nextInt(4), words(10 + r.nextInt(20)),
        (0 until 1 + r.nextInt(3)).map(_ => f"S${r.nextInt(nSpeakers)}%04d"),
        f"2026-12-$day%02dT$hh%02d:${r.nextInt(4) * 15}%02d:00+01:00",
        Seq("30", "45", "60")(r.nextInt(3)))
    }
    val speakers: IndexedSeq[(String, String)] =
      (0 until nSpeakers).map(i => f"S$i%04d" -> words(2))
    /** Current schedule, in stable code order of first appearance. */
    var talks: Vector[Talk] = Vector.fill(nTalks)(talk(code()))

    /** Advance one round; returns (new, edited, cancelled) codes. */
    def advance(): (Seq[String], Seq[String], Seq[String]) = {
      val n = talks.length
      val cancel = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (cancel.size < n * 2 / 100) cancel += r.nextInt(n)
      val edit = scala.collection.mutable.LinkedHashSet.empty[Int]
      while (edit.size < n * 5 / 100) {
        val i = r.nextInt(n); if (!cancel(i)) edit += i
      }
      val edited = talks.zipWithIndex.collect {
        case (t, i) if edit(i) =>
          t.copy(title = words(3 + r.nextInt(4)), room = 1 + r.nextInt(4))
        case (t, i) if !cancel(i) => t
      }
      val fresh = Vector.fill(n * 2 / 100)(talk(code()))
      val cancelled = cancel.toSeq.map(talks(_).code)
      val editedCodes = edit.toSeq.map(talks(_).code)
      talks = edited ++ fresh
      (fresh.map(_.code), editedCodes, cancelled)
    }

    def scheduleJson: String = {
      val sb = new StringBuilder("{\"talks\": [")
      talks.zipWithIndex.foreach { case (t, i) =>
        if (i > 0) sb.append(",\n")
        sb.append("{\"code\": ").append(jsonStr(t.code))
          .append(", \"title\": ").append(if (t.title == null) "null" else jsonStr(t.title))
          .append(", \"room\": ").append(t.room)
          .append(", \"abstract\": ").append(jsonStr(t.abstractText))
          .append(", \"speakers\": [").append(t.speakers.map(jsonStr).mkString(", "))
          .append("], \"start\": ").append(jsonStr(t.start))
          .append(", \"duration\": ").append(jsonStr(t.duration)).append("}")
      }
      sb.append("],\n\"speakers\": [")
      sb.append(speakers.map { case (c, n) =>
        s"""{"code": ${jsonStr(c)}, "name": ${jsonStr(n)}}""" }.mkString(",\n"))
      sb.append("]}\n").toString
    }

    /** The Hub's view after the last sync: one event per talk, as page
      * envelopes of `pageSize` rows. */
    def hubPages(pageSize: Int): Seq[String] = {
      val total = talks.length
      talks.grouped(pageSize).zipWithIndex.map { case (page, p) =>
        val data = page.map(t =>
          s"""{"id": ${jsonStr(hubId(t.code))}, "name": ${
            jsonStr(Option(t.title).getOrElse(""))}, "tags": [${jsonStr(t.code)}]}""")
        s"""{"data": [${data.mkString(",\n")}], "pagination": {"total": $total, "page": ${
          p + 1}, "page_size": $pageSize}}
"""
      }.toSeq
    }
  }

  def hubId(code: String): String = "ev-" + code

  /** Write one round's inputs: the schedule the round extracts, and the
    * Hub pages as they stood before it (no pages: the Hub is empty). */
  def writeRound(dir: String, schedule: String, hub: Seq[String],
                 d: Digest): (String, String) = {
    val sched = java.nio.file.Paths.get(dir, "schedule.json")
    writeString(sched, schedule, d)
    val pages = java.nio.file.Paths.get(dir, "pages")
    Files.createDirectories(pages)
    hub.zipWithIndex.foreach { case (p, i) =>
      writeString(pages.resolve(f"page-$i%05d.json"), p, d)
    }
    (sched.toString, pages.toString)
  }

  // ---- corpus_index: documents, searches, deletes, ingests ----------------

  /** The fixture's `documents`, amplified: `copies` copies of every base
    * document, copy 0 verbatim and the others with 10% of their words
    * replaced. Words are drawn Zipf-wise over the base corpus vocabulary
    * ranked by frequency. */
  final class Corpus(seed: Long, base: IndexedSeq[String], val copies: Int) {
    private val r = new SplittableRandom(seed)
    private val baseWords: IndexedSeq[Array[String]] =
      base.map(_.split(' ').filter(_.nonEmpty))
    /** Vocabulary by falling corpus frequency, ties by word. */
    val vocab: Array[String] = baseWords.flatten.groupBy(identity).toSeq
      .sortBy { case (w, n) => (-n.size, w) }.map(_._1).toArray
    private val zipf = new Zipf(vocab.length, 1.05)
    private def word(): String = vocab(zipf.draw(r))
    private def vary(w: Array[String]): Array[String] =
      w.map(x => if (r.nextInt(10) == 0) word() else x)
    /** doc_id → words of every doc ever written, live or not. */
    private val docs = scala.collection.mutable.LongMap.empty[Array[String]]
    def textOf(id: Long): String = docs(id).mkString(" ")
    val live = scala.collection.mutable.LinkedHashSet.empty[Long]
    private var nextId = copies.toLong * base.length

    def initial(): IndexedSeq[(Long, String)] =
      for (c <- 0 until copies; i <- base.indices) yield {
        val id = c.toLong * base.length + i
        val w = if (c == 0) baseWords(i) else vary(baseWords(i))
        docs(id) = w; live += id
        id -> w.mkString(" ")
      }
    /** 3 distinct query terms, drawn Zipf-wise. */
    def terms(): Seq[String] = {
      val s = scala.collection.mutable.LinkedHashSet.empty[String]
      while (s.size < math.min(3, vocab.length)) s += word()
      s.toSeq
    }
    def victims(n: Int): Seq[Long] = {
      val arr = live.toArray
      val out = scala.collection.mutable.LinkedHashSet.empty[Long]
      while (out.size < math.min(n, arr.length)) out += arr(r.nextInt(arr.length))
      out.foreach(live -= _)
      out.toSeq
    }
    /** A batch of new docs: ~30% near-duplicates of live docs, the rest
      * fresh Zipf draws as long as a random base document. */
    def ingest(n: Int): IndexedSeq[(Long, String)] = {
      val arr = live.toArray
      (0 until n).map { _ =>
        val w =
          if (r.nextInt(10) < 3) vary(docs(arr(r.nextInt(arr.length))))
          else Array.fill(baseWords(r.nextInt(base.length)).length)(word())
        val id = nextId; nextId += 1
        docs(id) = w; live += id
        id -> w.mkString(" ")
      }
    }
  }
}
