package graft.perfbench

import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generator for the recommender tables (book, tag, book_tag,
  * collect) and the serve event streams. The same seed and shape give
  * byte-identical inputs: every draw comes from one `SplittableRandom`
  * stream per table, in a fixed order. */
object Gen {

  /** The tables are the same for every run, so the fitted model can be
    * reused across runs of one build; the event streams follow the seed. */
  val TableSeed = 20261017L

  /** Sizes and skew of the inputs, the same for every workload: 1,000
    * books with 5–12 tags each out of 100 (Zipf tag popularity), 500
    * collect users with 16–40 books each (Zipf book popularity), and a
    * one-day view log of 300 users with up to 20 views each, half of them
    * unknown to the collect table. */
  val Books = 1000
  val Tags = 100
  val TagsMin = 5
  val TagsMax = 12
  val TagZipf = 1.0
  val Users = 500
  val CollectMin = 16
  val CollectMax = 40
  val BookZipf = 0.9
  val EventUserZipf = 1.1
  /** Share of u_like events that carry their books (the u_first_select
    * payload shape). */
  val PayloadShare = 0.1
  val LogUsers = 300
  val ViewsMax = 20

  final case class Tables(
      books: Array[(Long, String, String, Double)],   // id, title, author, rating
      tags: Array[(Long, String)],                    // id, tag
      bookTags: Array[(Long, Long, Int)],             // bookId, tagId, num
      collects: Array[(Long, Long, Int, Long)],       // userId, bookId, isCollect, time
      views: Array[(Long, Long)]) {                   // userId, bookId

    /** SHA-256 over a canonical text rendering of every row. */
    lazy val digest: String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      def add(s: String): Unit = md.update(s.getBytes("UTF-8"))
      books.foreach(r => add(s"b${r._1}|${r._2}|${r._3}|${r._4}\n"))
      tags.foreach(r => add(s"t${r._1}|${r._2}\n"))
      bookTags.foreach(r => add(s"bt${r._1}|${r._2}|${r._3}\n"))
      collects.foreach(r => add(s"c${r._1}|${r._2}|${r._3}|${r._4}\n"))
      views.foreach(r => add(s"v${r._1}|${r._2}\n"))
      Digest.hex(md.digest())
    }
  }

  /** One serve event: the sending user, and the u_first_select payload. */
  final case class Event(userId: Long, bookIds: Option[Seq[Long]]) {
    def json: String = bookIds match {
      case Some(b) => s"""{"userId": $userId, "bookIds": [${b.mkString(", ")}]}"""
      case None => s"""{"userId": $userId}"""
    }
  }

  /** Inverse-CDF sampler over ranks 0 until n with P(r) ∝ 1/(r+1)^s. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val c = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += 1.0 / math.pow(i + 1.0, s); c(i) = acc; i += 1 }
      c
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble() * cdf(n - 1)
      val i = java.util.Arrays.binarySearch(cdf, u)
      if (i >= 0) i else math.min(-i - 1, n - 1)
    }
  }

  private val consonants = "bdfghklmnprstvz"
  private val vowels = "aeiou"

  private def word(r: SplittableRandom, syllables: Int): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < syllables) {
      sb += consonants.charAt(r.nextInt(consonants.length))
      sb += vowels.charAt(r.nextInt(vowels.length))
      i += 1
    }
    sb.toString
  }

  /** `n` distinct words of `syllables` syllables not in `taken`. */
  private def words(r: SplittableRandom, n: Int, syllables: Int,
                    taken: mutable.Set[String]): Array[String] = {
    val out = new Array[String](n)
    var i = 0
    while (i < n) {
      val w = word(r, syllables)
      if (taken.add(w)) { out(i) = w; i += 1 }
    }
    out
  }

  private def permutation(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** `k` distinct ranks drawn from `z`. */
  private def distinct(r: SplittableRandom, z: Zipf, k: Int): Array[Int] = {
    val seen = mutable.LinkedHashSet.empty[Int]
    while (seen.size < k) seen += z.sample(r)
    seen.toArray
  }

  /** Collect users are 1..Users; book ids are 1..Books. */
  def tables(seed: Long): Tables = {
    val root = new SplittableRandom(seed)
    val rWords = root.split(); val rBooks = root.split()
    val rTags = root.split(); val rCollect = root.split()
    val rViews = root.split()

    val taken = mutable.HashSet.empty[String]
    val tagWords = words(rWords, Tags, 3, taken)
    val authorPool = words(rWords, math.max(1, Books / 4), 2, taken)
    val titleWords = words(rWords, Books, 4, taken)

    val tagZ = new Zipf(Tags, TagZipf)
    val tagRank = permutation(rTags, Tags)
    val authorZ = new Zipf(authorPool.length, 0.8)

    val books = new Array[(Long, String, String, Double)](Books)
    val bookTags = mutable.ArrayBuffer.empty[(Long, Long, Int)]
    var i = 0
    while (i < Books) {
      val id = i + 1L
      val rating = (50 + rBooks.nextInt(50)) / 10.0
      val nAuth = if (rBooks.nextDouble() < 0.2) 2 else 1
      val author = (0 until nAuth)
        .map(_ => authorPool(authorZ.sample(rBooks))).distinct.mkString(",")
      books(i) = (id, titleWords(i).capitalize, author, rating)
      val k = TagsMin + rTags.nextInt(TagsMax - TagsMin + 1)
      distinct(rTags, tagZ, k).foreach(t =>
        bookTags += ((id, tagRank(t) + 1L, 1 + rTags.nextInt(60))))
      i += 1
    }
    val tags = Array.tabulate(Tags)(t => (t + 1L, tagWords(t)))

    // collect: popularity-skewed distinct books per user, times increasing
    val bookZ = new Zipf(Books, BookZipf)
    val bookRank = permutation(rCollect, Books)
    val collects = mutable.ArrayBuffer.empty[(Long, Long, Int, Long)]
    var u = 1
    while (u <= Users) {
      val n = CollectMin + rCollect.nextInt(CollectMax - CollectMin + 1)
      var t = 1600000000L + rCollect.nextInt(1000000)
      distinct(rCollect, bookZ, n).foreach { b =>
        t += 1 + rCollect.nextInt(86400)
        collects += ((u.toLong, bookRank(b) + 1L, 1, t))
      }
      // an un-collect row now and then (u_nlike's isCollect = 0)
      if (rCollect.nextInt(10) == 0)
        collects += ((u.toLong, bookRank(bookZ.sample(rCollect)) + 1L, 0, t + 1))
      u += 1
    }

    // the view log: distinct users out of twice the collect users, each
    // viewing 1..ViewsMax popularity-skewed books (repeats allowed)
    val views = mutable.ArrayBuffer.empty[(Long, Long)]
    permutation(rViews, 2 * Users).take(LogUsers).sorted.foreach { v =>
      (0 to rViews.nextInt(ViewsMax)).foreach(_ =>
        views += ((v + 1L, bookRank(bookZ.sample(rViews)) + 1L)))
    }

    Tables(books, tags, bookTags.toArray, collects.toArray, views.toArray)
  }

  /** An event stream. u_like events come from known users, Zipf over a
    * fixed ranking of the collect users; u_first_select events
    * (`firstSelect`) from fresh ids above `newUserBase`, each with a 3–5
    * book payload. Payload books follow a fixed popularity ranking. The
    * rankings come from the table seed, so every seed draws from the same
    * distribution; `seed` drives only the draws. */
  final class Events(seed: Long, firstSelect: Boolean, newUserBase: Long) {
    private val ranks = new SplittableRandom(TableSeed ^ 0x5eedL)
    private val userRank = permutation(ranks, Users)
    private val bookRank = permutation(ranks, Books)
    private val r = new SplittableRandom(seed ^ 0x5eedL)
    private val userZ = new Zipf(Users, EventUserZipf)
    private val bookZ = new Zipf(Books, BookZipf)
    private var nextNew = newUserBase

    private def payload(): Seq[Long] =
      distinct(r, bookZ, 3 + r.nextInt(3)).map(b => bookRank(b) + 1L).toSeq

    def next(): Event =
      if (firstSelect) { nextNew += 1; Event(nextNew, Some(payload())) }
      else {
        val uid = userRank(userZ.sample(r)) + 1L
        Event(uid, if (r.nextDouble() < PayloadShare) Some(payload()) else None)
      }

    def take(n: Int): Array[Event] = Array.fill(n)(next())
  }
}

object Digest {
  def hex(bytes: Array[Byte]): String = bytes.map(b => f"${b & 0xff}%02x").mkString

  def of(lines: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    hex(md.digest())
  }
}
